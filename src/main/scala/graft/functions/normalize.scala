package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Text-normalization Column functions (SURVEY.md §2.7 F4-F7).
  *
  * Native expressions ([[Unaccent]], [[SearchKey]]) where a chain of
  * built-ins sits on the hot path, built-ins elsewhere — NOT monolithic
  * UDFs (SURVEY §2.9).
  */
object normalize {

  /** F4/F5: unidecode-style ASCII transliteration. */
  def unaccent(c: Column): Column = Bridge.column(Unaccent(Bridge.expression(c)))

  /** F6 — the matching key everything joins on (the reference's
    * `search_key`, `src/util.py:14-16`):
    * `unidecode → lower → drop literal "(live)" → strip [^a-zA-Z0-9]+`,
    * as the one-pass native [[SearchKey]]. Order matters and is pinned by
    * goldens in NormalizeSpec; [[searchKeyComposed]] is the built-ins
    * reference it is property-tested against.
    *
    * A key that normalizes to "" (e.g. a name in a script [[Transliterate]]
    * has no mapping for, or pure punctuation) is returned as NULL so it can
    * never equi-join: otherwise every such name would collide on the one
    * empty key and spuriously match (ADVICE r01). Null keys fall out of
    * inner/semi joins naturally — exactly "non-matchable".
    */
  def searchKey(c: Column): Column = Bridge.column(SearchKey(Bridge.expression(c)))

  /** Built-ins reference form of [[searchKey]] (for the spec): five
    * expressions, of which `lower` takes Spark's ICU path and the two
    * `regexp_replace` run a regex per row. */
  def searchKeyComposed(c: Column): Column = {
    val k = regexp_replace(
      regexp_replace(lower(unaccent(c)), "\\(live\\)", ""),
      "[^a-zA-Z0-9]+", "")
    nullif(k, lit(""))
  }

  /** The SQL-side alias normalizer the reference *stores* with
    * (`/root/reference/sql/4:32`): `LOWER(REGEXP_REPLACE(UNACCENT(x), '\W', '', 'g'))`.
    * Kept for documentation/tests of the store-vs-probe divergence
    * (`\W` keeps underscore; no "(live)" strip) — the engine itself uses
    * [[searchKey]] on BOTH sides (SURVEY §7.4.3).
    */
  def searchKeySqlSide(c: Column): Column =
    lower(regexp_replace(unaccent(c), "\\W", ""))

  /** F7: typographic-punctuation folding for display strings
    * (`/root/reference/src/benchmark.py:14-21`). */
  def cleanPunct(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(c, "…", "..."),
            "’", "'"),
          "“", "\""),
        "”", "\""),
      "‐", "-")
}
