package graft.functions

import java.text.Normalizer

/** ASCII transliteration core shared by the `Unaccent` expression and plain
  * JVM callers.
  *
  * The reference normalizes text two inconsistent ways (SURVEY.md F4/F5):
  * Postgres `UNACCENT` when storing aliases (`/root/reference/sql/4_artist_alias_data.sql:32`,
  * `sql/5_song_alias_data.sql:34`) and Python `unidecode` when probing them
  * (`/root/reference/src/util.py:16`). Per SURVEY §7.4.3 the engine unifies
  * on the unidecode-like semantics: NFD decomposition with combining marks
  * stripped, plus explicit mappings for the letters NFD cannot decompose
  * (ø, ß, đ, þ, Œ …) and common typographic punctuation. Characters with no
  * mapping are kept verbatim (the search key keeps only ASCII letters and
  * digits, so [[SearchKey]] drops them and match behavior is unaffected).
  */
object Transliterate {
  private val extra: java.util.HashMap[Character, String] = {
    val m = new java.util.HashMap[Character, String]()
    val pairs: Seq[(Char, String)] = Seq(
      'ø' -> "o", 'Ø' -> "O", 'ß' -> "ss", 'ẞ' -> "SS",
      'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE",
      'đ' -> "d", 'Đ' -> "D", 'ð' -> "d", 'Ð' -> "D",
      'þ' -> "th", 'Þ' -> "Th", 'ł' -> "l", 'Ł' -> "L",
      'ı' -> "i", 'ħ' -> "h", 'Ħ' -> "H", 'ŋ' -> "ng", 'Ŋ' -> "NG",
      'ŧ' -> "t", 'Ŧ' -> "T", 'ĸ' -> "k", 'ſ' -> "s",
      // typographic punctuation → ASCII (unidecode behavior; also the
      // explicit `clean` map at /root/reference/src/benchmark.py:14-21)
      '…' -> "...", '’' -> "'", '‘' -> "'", '‚' -> ",",
      '“' -> "\"", '”' -> "\"", '„' -> "\"",
      '‐' -> "-", '‑' -> "-", '–' -> "-", '—' -> "-", '―' -> "-",
      ' ' -> " ") ++
      // Cyrillic (unidecode-style romanization; SURVEY F5, ADVICE r01).
      // Without these, Cyrillic names survive NFD verbatim and the search
      // key drops them to "" — distinct names colliding on one key.
      "абвгдежзийклмнопрстуфхцчшщъыьэюяё".zip(Seq(
        "a","b","v","g","d","e","zh","z","i","i","k","l","m","n","o","p",
        "r","s","t","u","f","kh","ts","ch","sh","shch","","y","","e","yu",
        "ya","e")) ++
      "АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯЁ".zip(Seq(
        "A","B","V","G","D","E","Zh","Z","I","I","K","L","M","N","O","P",
        "R","S","T","U","F","Kh","Ts","Ch","Sh","Shch","","Y","","E","Yu",
        "Ya","E")) ++
      // Greek (NFD strips tonos accents first, so base letters suffice)
      "αβγδεζηθικλμνξοπρστυφχψω".zip(Seq(
        "a","b","g","d","e","z","e","th","i","k","l","m","n","x","o","p",
        "r","s","t","u","ph","kh","ps","o")) ++
      Seq('ς' -> "s") ++
      "ΑΒΓΔΕΖΗΘΙΚΛΜΝΞΟΠΡΣΤΥΦΧΨΩ".zip(Seq(
        "A","B","G","D","E","Z","E","Th","I","K","L","M","N","X","O","P",
        "R","S","T","U","Ph","Kh","Ps","O"))
    pairs.foreach { case (c, s) => m.put(c, s) }
    m
  }

  /** Unicode → ASCII-leaning transliteration. Deterministic, allocation-light
    * (single pass after NFD); safe to call from codegen'd expressions.
    */
  def ascii(s: String): String = {
    val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
    val n = nfd.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val ch = nfd.charAt(i)
      val t = Character.getType(ch)
      if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK
          && t != Character.ENCLOSING_MARK) {
        val rep = extra.get(ch)
        if (rep != null) sb.append(rep) else sb.append(ch)
      }
      i += 1
    }
    sb.toString
  }
}
