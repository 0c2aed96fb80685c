package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.RollingHash

/** Text-analysis primitives for a training-data pipeline (builder prompt:
  * language-ID, quality scoring, token counting, fingerprinting). All pure
  * Column expressions over built-ins (plus the [[RollingHash]] codegen
  * expression) — no UDFs, so every metric stays inside whole-stage codegen
  * and the scan can still prune/push.
  *
  * Numeric outputs are integers (counts, or floor-scaled ratios in
  * parts-per-thousand) so cross-engine comparison is exact.
  */
object TextAnalysis {

  /** Whitespace tokens, empty-safe (`split("")` yields `[""]`, which is not
    * a token). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish lexical units: word runs OR single non-word-non-space marks —
    * the usual pre-tokenizer regex shape. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0)))

  /** Markup strip — the content-extraction pass of a web-corpus pipeline:
    * drop `<script>`/`<style>` elements WITH their payload (code is not
    * prose), drop every remaining tag, unescape the five core entities +
    * `&nbsp;`, collapse whitespace. Pure codegen `regexp_replace`/
    * `replace` chain, map-side, fused into the scan.
    *
    * Patterns live in the Java-regex ∩ RE2 intersection so the oracle
    * replays them: no backreferences (script and style are two separate
    * non-greedy `(?s)` replaces, accepting mismatched-pair inputs as two
    * independent spans), ASCII classes only. `&amp;` unescapes LAST so
    * double-escaped text (`&amp;lt;`) yields the literal `&lt;`, not `<` —
    * the HTML-correct order. This is the regex tier — what C4-style
    * pipelines actually ran at corpus scale, and the oracle-replayable q66
    * path; [[htmlText]] is the structural fidelity tier above it. */
  def stripMarkup(text: Column): Column =
    Bridge.column(stripMarkupExpr(Bridge.expression(text)))

  /** Structural-tier markup strip: the hand-rolled zero-dep HTML tokenizer
    * ([[graft.functions.HtmlTextKernel]]) behind the same contract as
    * [[stripMarkup]], adding what a regex cannot express — quote-aware
    * attributes (`<div title="a>b">` does not truncate), `<pre>`
    * whitespace fidelity, numeric character references, EOF-in-tag
    * cleanup, and optional `alt`/`title` attribute text
    * (`attrText = true`). Not SQL-oracle-replayable, so q66 keeps the
    * regex tier; the two tiers are pinned against each other (agreement on
    * well-formed prose, documented divergence goldens) in `HtmlTextSpec`.
    * Single codegen'd kernel call, map-side, fuses into the scan. */
  def htmlText(text: Column, attrText: Boolean = true): Column =
    Bridge.column(graft.functions.HtmlText(Bridge.expression(text), attrText))

  /** The same chain over raw Catalyst nodes — the ONE definition both the
    * Column API and the SQL registration (`strip_markup` in
    * [[graft.GraftExtensions]]) expand to, so the two surfaces cannot
    * drift. (A composed Column cannot be returned from a SQL
    * FunctionBuilder: it round-trips as an unresolvable
    * `ColumnNodeExpression`.) */
  def stripMarkupExpr(text: catalyst.expressions.Expression): catalyst.expressions.Expression = {
    import catalyst.expressions.{Literal, RegExpReplace, StringReplace, StringTrim}
    def rr(e: catalyst.expressions.Expression, p: String): catalyst.expressions.Expression =
      RegExpReplace(e, Literal(p), Literal(" "))
    // `(>|[ws/][^>]*>)` bounds the tag NAME: after `script` only
    // whitespace, `/` or `>` continue the SAME element, so
    // `<script-template>` is a different tag that dies alone via the
    // generic strip instead of swallowing prose up to some later real
    // `</script>`. `\s` is NOT in the Java∩RE2 intersection (Java
    // includes \x0B, RE2 does not) — every whitespace class is explicit,
    // built from the raw char set (never nest a [..] inside another:
    // Java unions nested classes, RE2 reads `[` as a literal).
    val wsChars = " \\t\\n\\x0B\\f\\r"
    val ws = s"[$wsChars]"
    // The same name boundary on BOTH tags of the pair: `</script x>` is a
    // parse error to an HTML tokenizer but still CLOSES the element, so a
    // closer-with-attributes must end the payload kill — otherwise the
    // script body leaks into the prose.
    val tagEnd = s"(>|[$wsChars/][^>]*>)"
    val noScript = rr(text, s"(?is)<script$tagEnd.*?</script$tagEnd")
    val noStyle = rr(noScript, s"(?is)<style$tagEnd.*?</style$tagEnd")
    // Comments die as a PAIR (non-greedy to the real `-->`) BEFORE the
    // generic strip: `<!-- if x > 0 -->` would otherwise be cut at the
    // first `>`, leaving `0 -->` residue in the prose.
    val noComments = rr(noStyle, "(?s)<!--.*?-->")
    // `?` in the lead class: `<?xml ...?>` / `<?php ...?>` processing
    // instructions are markup, not prose.
    val noTags = rr(noComments, "</?[A-Za-z!?][^>]*>")
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&" // &amp; LAST
    ).foldLeft(noTags) { case (e, (from, to)) =>
      StringReplace(e, Literal(from), Literal(to))
    }
    StringTrim(RegExpReplace(unescaped, Literal(s"$ws+"), Literal(" ")))
  }

  /** Count of tokens present in `stopwords` (multiset semantics: repeated
    * stopwords count repeatedly — that is the language-ID signal). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t)))
  }

  /** Per-mille ratios as exact integers: ⌊1000·num / den⌋, 0 when the
    * denominator is 0. Integer division on longs end-to-end
    * ([[catalyst.expressions.IntegralDivide]] ↔ DuckDB `//`) — a double
    * round-trip would lose exactness once 1000·num exceeds 2^53, which
    * per-doc Σdf sums reach at corpus scale. Truncation ≡ floor for the
    * non-negative counts this contract serves. */
  def perMille(num: Column, den: Column): Column =
    when(den === 0, 0L).otherwise(Bridge.column(catalyst.expressions.IntegralDivide(
      Bridge.expression(num.cast("long") * lit(1000L)),
      Bridge.expression(den.cast("long"))))).cast("long")

  /** Aggregate token length (for mean-word-length quality signals). */
  def tokenCharCount(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))

  /** Tiny per-language stopword profiles for the n-gram-free language-ID
    * heuristic. Deliberately small: the operator contract is "deterministic
    * argmax over per-language evidence counts", not lexicographic coverage.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "you", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "se", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "pas"))

  /** Language-ID: argmax of stopword-evidence counts over lowercased
    * tokens; ties break alphabetically; zero evidence → "und". The DuckDB
    * oracle replays the same counts and the same tie-break. Fused
    * single-pass kernel ([[graft.functions.LangId]]); [[langIdComposed]]
    * is the built-ins fold it is spec-equivalence-tested against.
    */
  def langId(text: Column): Column =
    Bridge.column(graft.functions.LangId(Bridge.expression(text)))

  /** Built-ins-only reference form of [[langId]] (kept for the spec). */
  def langIdComposed(text: Column): Column = {
    val lowered = lower(text)
    val scores = StopwordProfiles.map { case (lang, words) =>
      lang -> stopwordCount(lowered, words)
    }
    // alphabetical profile order + >= keeps the earlier language on ties:
    // each fold step compares best-so-far against the next candidate
    val bestCol = scores.tail.foldLeft(lit(scores.head._1) -> scores.head._2) {
      case ((nameCol, scoreCol), (l, s)) =>
        (when(scoreCol >= s, nameCol).otherwise(lit(l)),
          when(scoreCol >= s, scoreCol).otherwise(s))
    }
    when(greatest(scores.map(_._2): _*) === 0, lit("und")).otherwise(bestCol._1)
  }

  /** Document fingerprint: [[RollingHash]] of the text. */
  def fingerprint(text: Column): Column =
    Bridge.column(RollingHash(Bridge.expression(text)))

  /** Word n-grams WITH duplicates (unlike [[Dedup.shingles]]) — the
    * multiset the repetition signals count over. Empty when fewer than
    * `n` tokens. */
  def ngramsMultiset(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Occurrence-multiset n-gram hashes — the fused
    * [[graft.functions.ShingleHashesAll]] kernel ([[ngramsMultiset]] +
    * rollingHash evaluates interpreted per element and dominated q43;
    * grouping by the 8-byte hash also shuffles a long instead of the gram
    * string). */
  def ngramHashesMultiset(text: Column, n: Int): Column =
    Bridge.column(graft.functions.ShingleHashesAll(Bridge.expression(text), n))

  /** [[ngramsMultiset]] as one fused kernel (the HOF slice/concat chain
    * evaluates interpreted per element; the kernel is one pass with one
    * StringBuilder per gram) — for operators that need the gram SURFACE
    * FORMS at occurrence multiplicity (the bigram LM). Spec-pinned ≡
    * [[ngramsMultiset]]. */
  def ngramStringsMultiset(text: Column, n: Int): Column =
    Bridge.column(graft.functions.ShinglesAll(Bridge.expression(text), n))

  /** [[ngramHashesMultiset]] in the ~60-bit combined key space (two
    * independent rolling hashes, h1·Mod + h2) — REQUIRED wherever a
    * single gram's global multiplicity is the decision
    * ([[graft.operators.Dedup.duplicateSpans]]'s "occurs ≥ 2" test): the
    * ~2³⁰ single-hash space saturates by birthday collision at ~10⁹
    * corpus grams and every gram then looks duplicated. Threshold-
    * protected counters (Jaccard common-counts, contamination
    * `minShared`) stay on the narrow space — collisions move them by
    * ±1 against a ≥5 threshold, not by orders of magnitude. */
  def ngramHashesWideMultiset(text: Column, n: Int): Column =
    Bridge.column(graft.functions.ShingleHashesWideAll(Bridge.expression(text), n))

  /** IDF-style lexical-commonness signal: the mean corpus document
    * frequency of a document's tokens (×1000, exact integer — higher =
    * more common vocabulary; very low flags codes/IDs/garbage, very high
    * flags stopword soup). The TF-IDF-family quality filter reduced to
    * its engine-replayable core: per-token df is the corpus-level fact,
    * the per-doc mean is the signal; [[graft.operators.Stats.quantileBuckets]]
    * composes on top for per-language thresholds.
    *
    * Shape: token postings → one distinct-(doc, token) aggregate → a
    * vocab-sized df table → equi-join back per occurrence → one doc
    * aggregate. The join fan-out equals the corpus token mass (linear —
    * a stopword's big posting list is the occurrences themselves, not a
    * pair blowup); tokens ride as 8-byte hashes, never strings. Docs with
    * no tokens are absent.
    *
    * → (doc_id, n_tokens, mean_token_df_x1000). */
  def tokenRarity(df: org.apache.spark.sql.DataFrame, id: Column, text: Column)
      : org.apache.spark.sql.DataFrame = {
    val tk = df.select(id.as("doc_id"), explode(Dedup.tokenHashes(text)).as("h"))
    val dfreq = tk.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    tk.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("__sumdf"))
      .select(col("doc_id"), col("n_tokens"),
        perMille(col("__sumdf"), col("n_tokens")).as("mean_token_df_x1000"))
  }

  /** Target-corpus affinity — the deterministic core of "quality =
    * similarity to a curated corpus" filtering (the CCNet/GPT-3-style
    * classifier signal, reduced to its n-gram-overlap proxy): per doc,
    * the per-mille fraction of its DISTINCT word n-grams that appear
    * anywhere in the curated `target` corpus. High = in-domain prose,
    * low = off-distribution text; thresholds compose via
    * [[graft.operators.Stats.quantileBuckets]].
    *
    * Shape: the target's distinct gram set is one aggregate (typically
    * tiny next to the raw corpus — a curated reference is millions of
    * docs against billions — so the join builds/broadcasts the target
    * side); corpus postings left-join it, one doc aggregate counts
    * hits. The per-doc gram count rides in the posting rows — no join
    * back. Never corpus × target. Docs with no grams are absent.
    *
    * → (doc_id, n_grams, n_in_target, target_affinity_permille). */
  def targetAffinity(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      target: org.apache.spark.sql.DataFrame, targetText: Column, n: Int)
      : org.apache.spark.sql.DataFrame = {
    // THE inverted-index posting shape (one source of truth — a drifted
    // copy of the empty-doc guard or size column would break silently)
    val postings = Contamination.postings(df, id, text, n, "doc_id", "n_grams")
    val tset = broadcast(
      target.select(explode(Dedup.shingleHashes(targetText, n)).as("h"))
        .distinct()
        .withColumn("__hit", lit(1L)))
    postings.join(tset, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"), count(col("__hit")).as("n_in_target"))
      .withColumn("target_affinity_permille",
        perMille(col("n_in_target"), col("n_grams")))
  }

  /** Input-size gate for [[bigramLmScore]]'s eager broadcast path — below
    * it the score join stays a lazy shuffle-hash plan. */
  val LmBroadcastGateMinBytesKey = "spark.graft.lm.broadcastGateMinBytes"
  val LmBroadcastGateMinBytesDefault: Long = 128L * 1024 * 1024

  /** Bigram language model of a reference corpus — the deterministic core
    * of CCNet-style "perplexity under a reference LM" quality filtering
    * (KenLM scoring reduced to its exact-integer conditional-probability
    * proxy): for every bigram `w1 w2` seen at least `minCount` times,
    * `p_permille = ⌊1000·C(w1 w2) / C(w1 ·)⌋` — the per-mille conditional
    * probability of `w2` given `w1`, with the denominator summed over ALL
    * successors (computed BEFORE the prune, so pruning shifts no
    * probability mass). Tokens are lowercased whitespace tokens, so case
    * variants don't split mass.
    *
    * Shape: one gram-keyed count aggregate (Zipfian keys combine
    * map-side — the exchange carries distinct grams per partition, not
    * occurrences), then the `C(w1 ·)` prefix mass as a WINDOW over the
    * aggregated gram table partitioned by `w1` — the reference corpus is
    * exploded exactly once BY CONSTRUCTION, and there is no prefix join
    * (the former agg + self-join shape paid a second corpus pass when
    * lazy and a persist when not). Window partitions are successor
    * counts (vocabulary-bounded), never occurrence counts. `minCount` is
    * the KenLM-style prune dial: at corpus scale raise it until the
    * table broadcasts (the score join's hot grams are by construction IN
    * the table — a shuffled probe would skew).
    *
    * → (gram, c, p_permille). */
  def bigramLm(ref: org.apache.spark.sql.DataFrame, text: Column,
      minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("gram"), " ", 1))
    ref.select(explode(ngramStringsMultiset(lower(text), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .withColumn("cp", sum(col("c")).over(w))
      .filter(col("c") >= minCount)
      .select(col("gram"), col("c"), perMille(col("c"), col("cp")).as("p_permille"))
  }

  /** Score every document of `df` against a [[bigramLm]] table: the mean
    * per-mille conditional probability of the doc's bigrams under the LM
    * (pruned/out-of-vocabulary bigrams score 0 — they are evidence of
    * off-distribution text, exactly what the filter wants to see). High =
    * predictable in-domain prose, low = junk/boilerplate/wrong-language;
    * threshold via [[graft.operators.Stats.quantileBuckets]]. Exact
    * integer arithmetic end-to-end, so the score is engine-replayable —
    * unlike a float log-prob sum, whose association order would differ
    * per partitioning.
    *
    * Shape: the probe explodes doc bigrams ONCE and joins the slim
    * (gram, p_permille) table. The LM side builds: below the input-size
    * gate a lazy `shuffle_hash` hint; above it the table persists, is
    * counted, and broadcasts when ≤ `maxBroadcastKeys` — a shuffled
    * gram-keyed probe would send every `of the` in the corpus to one
    * partition (the LM's hot keys are its HEAD, not its tail). Docs with
    * fewer than 2 tokens survive with n_bigrams = 0 (explode_outer).
    *
    * → (doc_id, n_bigrams, mean_p_permille). */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      lm: org.apache.spark.sql.DataFrame,
      maxBroadcastKeys: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    val bg = df.select(id.as("doc_id"),
      explode_outer(ngramStringsMultiset(lower(text), 2)).as("gram"))
    val slim = lm.select(col("gram"), col("p_permille"))
    val probe =
      if (SizeGate.fits(df.sparkSession, SizeGate.estimate(df),
          LmBroadcastGateMinBytesKey, LmBroadcastGateMinBytesDefault))
        bg.join(slim.hint("shuffle_hash"), Seq("gram"), "left")
      else {
        // the cache entry deliberately OUTLIVES this call (the returned
        // lazy frame still reads it — same contract as duplicateSpans'
        // and Contamination's persist gates): callers scoring against the
        // same LM repeatedly amortize one corpus pass. The persist is on
        // the caller's OWN `lm` handle, so `lm.unpersist()` genuinely
        // releases it when they are done — persisting the derived
        // projection would strand a cache entry no caller handle reaches
        val cached = lm.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val slimCached = cached.select(col("gram"), col("p_permille"))
        val nKeys = cached.count() // sizing job — also warms the cache
        if (nKeys <= maxBroadcastKeys) bg.join(broadcast(slimCached), Seq("gram"), "left")
        else bg.join(slimCached.hint("shuffle_hash"), Seq("gram"), "left")
      }
    probe.groupBy(col("doc_id"))
      .agg(count(col("gram")).as("n_bigrams"),
        sum(coalesce(col("p_permille"), lit(0L))).as("__sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") === 0, 0L)
          .otherwise(Bridge.column(catalyst.expressions.IntegralDivide(
            Bridge.expression(col("__sum_p")),
            Bridge.expression(col("n_bigrams").cast("long")))))
          .cast("long").as("mean_p_permille"))
  }

  /** Gopher-style intra-document repetition signals over word `n`-grams:
    * per doc, how dominant the single most frequent n-gram is and what
    * fraction of all n-gram occurrences are repeats of an earlier one —
    * both in exact per-mille. High values flag boilerplate/spam documents
    * that length and stopword ratios miss.
    *
    * The signal is PER-DOCUMENT, so no cross-row information is needed:
    * one [[graft.functions.GramRepetition]] kernel call per row computes
    * (n_grams, n_distinct, max_count) map-side in the scan — zero
    * shuffle at any scale, where the former explode + (id, hash)
    * aggregate shuffled the corpus's whole gram mass. Grams are counted
    * by the same engine-neutral rolling hash (the DuckDB oracle replays
    * it); [[repetitionStatsAggregated]] keeps the explode+aggregate form
    * the kernel is spec-pinned against. Docs with fewer than `n` tokens
    * produce no grams and are ABSENT.
    *
    * → (id as `doc_id`, n_grams, n_distinct_grams, top_gram_permille,
    *    dup_gram_permille).
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, id: Column, text: Column, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val rep = Bridge.column(graft.functions.GramRepetition(Bridge.expression(text), n))
    df.select(id.as("doc_id"), rep.as("__rep"))
      .filter(col("__rep").isNotNull)
      .select(
        col("doc_id"),
        col("__rep.n_grams").as("n_grams"),
        col("__rep.n_distinct_grams").as("n_distinct_grams"),
        col("__rep.max_gram_count").as("max_gram_count"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        perMille(col("max_gram_count"), col("n_grams")).as("top_gram_permille"),
        perMille(col("n_grams") - col("n_distinct_grams"), col("n_grams"))
          .as("dup_gram_permille"))
  }

  /** The explode + (id, hash) aggregate reference form of
    * [[repetitionStats]] (kept for the spec equivalence pin, same role
    * as [[langIdComposed]]). */
  def repetitionStatsAggregated(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column, n: Int)
      : org.apache.spark.sql.DataFrame =
    df.select(id.as("doc_id"), explode(ngramHashesMultiset(text, n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("c")).as("max_gram_count"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        perMille(col("max_gram_count"), col("n_grams")).as("top_gram_permille"),
        perMille(col("n_grams") - col("n_distinct_grams"), col("n_grams"))
          .as("dup_gram_permille"))

  /** Corpus-level boilerplate mining: document frequency of every distinct
    * word n-gram, top `k` by df. The dedup/contamination tier's hot-shingle
    * caps BOUND the cost of boilerplate grams — this op IDENTIFIES them
    * (license headers, navigation chrome) so ingest can strip or blocklist
    * the text itself. Grams surface as strings here (a blocklist is for
    * humans and strippers, not hash joins; the fused
    * [[graft.functions.Shingles]] kernel generates them codegen'd — the
    * HOF composition ran interpreted and dominated the query 10×). One
    * explode + one hash aggregate + a global top-k — `limit` after
    * `orderBy` plans as TakeOrdered: each partition keeps only its own
    * top `k`, the driver merges k·partitions rows, so the global sort
    * never shuffles the gram table. Ties at the cutoff break on the gram
    * string — deterministic.
    * → (gram, df) ordered by df desc, gram asc. */
  def topNgrams(
      df: org.apache.spark.sql.DataFrame, text: Column,
      n: Int, k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(
      Bridge.column(graft.functions.Shingles(Bridge.expression(text), n))).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram").asc)
      .limit(k)

  /** Per-group keyword profile — "what characterizes this source/domain":
    * the top-k tokens per group by df-normalized term frequency
    * `weight = ⌊tf_group · 10⁶ / df_corpus⌋` (exact integers — every
    * engine replays bit-for-bit; exact while tf < 9.2·10¹²). A token
    * concentrated in one group scores ~10⁶ per repeat-per-doc; a token
    * spread across the corpus is damped by its document frequency.
    * Tokens in more than `maxTokenDf` documents are excluded entirely
    * (the absolute stopword cap, same contract as [[Dedup.tfCosinePairs]]
    * — the cap is PART of the metric).
    *
    * Shape: one LINEAR chain — the corpus is scanned and exploded
    * exactly once (structurally: there is no second branch to
    * re-execute, unlike a tf-branch ⋈ df-branch formulation, whose
    * per-branch column pruning defeats exchange reuse). Per-doc counts
    * on (grp, doc, tok) are the one corpus-sized pass; (grp, tok)
    * aggregates are vocab×groups-sized; the document frequency falls out
    * WITHOUT re-touching the corpus because ids are unique (the stated
    * precondition) — each (doc, tok) lives under exactly one group, so
    * df(tok) = Σ over groups of that group's doc count, one window over
    * the tiny aggregate. Ties break on the token string (binary UTF-8
    * order, identical in Spark and DuckDB).
    * → (grp, tok, tf, df_docs, weight, rank), rank 1..k per group. */
  def groupKeywords(
      df: org.apache.spark.sql.DataFrame, group: Column, id: Column, text: Column,
      k: Int, maxTokenDf: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // per-doc term counts: the ONE corpus-sized pass; docs are unique per
    // id, so grp is functionally dependent on doc and riding it in the
    // grouping key adds no rows
    val perDoc = df.select(group.as("grp"), id.as("doc"), explode(tokens(text)).as("tok"))
      .groupBy(col("grp"), col("doc"), col("tok")).agg(count(lit(1)).as("doc_tf"))
    val byGrp = perDoc.groupBy(col("grp"), col("tok"))
      .agg(sum(col("doc_tf")).cast("long").as("tf"), count(lit(1)).as("grp_docs"))
    val withDf = byGrp.withColumn("df_docs",
      sum(col("grp_docs")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("tok"))).cast("long"))
      .filter(col("df_docs") <= maxTokenDf)
    val weight = Bridge.column(catalyst.expressions.IntegralDivide(
      Bridge.expression(col("tf") * lit(1000000L)),
      Bridge.expression(col("df_docs"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("weight").desc, col("tok").asc)
    withDf
      .withColumn("weight", weight)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp"), col("tok"), col("tf"), col("df_docs"), col("weight"), col("rank"))
  }

  /** Fixed-size token chunking with overlap — the segmentation pass an
    * embedding/RAG pipeline runs before encoding: chunk `k` covers tokens
    * `[k·step, k·step + chunkTokens)` with `step = chunkTokens −
    * overlapTokens`, so consecutive chunks share `overlapTokens` tokens
    * and no token is lost (the last chunk may be short, but always
    * contributes at least one token BEYOND the shared overlap — a tail
    * that would only repeat the previous chunk's content is not emitted,
    * so no chunk is a subset of another and nothing is double-indexed).
    * Pure map-side — tokenization, the chunk-count sequence and the slice
    * are all Column expressions fused into the scan; 100 TB chunks in one
    * pass with no shuffle. Chunk text is the space-rejoined token slice
    * (whitespace normalized — the tokenizer's contract). Docs with no
    * tokens are absent.
    *
    * → (doc_id, chunk_id, chunk_n_tokens, chunk_text)
    */
  def chunkDocs(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      chunkTokens: Int, overlapTokens: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      s"need chunkTokens > overlapTokens >= 0, got ($chunkTokens, $overlapTokens)")
    val step = chunkTokens - overlapTokens
    df.select(id.as("doc_id"), tokens(text).as("__toks"))
      .filter(size(col("__toks")) > 0)
      // starts at 0, step, 2·step, …; the last start is the largest with
      // start + overlap < n, i.e. floor((max(n−overlap,1)−1)/step)·step —
      // coverage still holds (last start + chunk = last start + step +
      // overlap ≥ n) while a ≤-overlap tail, fully contained in the
      // previous chunk, is never emitted.
      // (Column `/` is DOUBLE division — floor+cast keeps sequence integral)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0),
          floor((greatest(size(col("__toks")) - overlapTokens, lit(1)) - 1) / step)
            .cast("int"))).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        least(lit(chunkTokens), size(col("__toks")) - col("chunk_id") * step)
          .cast("long").as("chunk_n_tokens"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_id") * step + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Composite C4/Gopher-style quality gate — the keep/drop decision a
    * curation pass actually applies. Every rule is a NAMED boolean column
    * so the run is auditable per filter (what did `low_stopword` alone
    * remove?) instead of a black-box drop; `keep` is their conjunction.
    *
    * EVERY signal — token count, mean token length, stopword density,
    * AND the repetition signal (the per-row
    * [[graft.functions.GramRepetition]] kernel) — is a map-side
    * expression that computes in the scan pass: the gate never shuffles,
    * at any corpus size. Documents with fewer than `n` tokens have no
    * grams: their repetition signal is 0 — they are gated by
    * `too_short`, not by a missing-signal artifact.
    *
    * → (doc_id, n_tokens, mean_tok_len_permille, stopword_permille,
    *    top_gram_permille, too_short, too_long, bad_token_shape,
    *    low_stopword, repetitive, keep)
    */
  def qualityGate(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      stopwords: Seq[String] = StopwordProfiles.toMap.apply("en"),
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanTokLenPermille: Long = 3000L, maxMeanTokLenPermille: Long = 10000L,
      minStopwordPermille: Long = 20L,
      maxTopGramPermille: Long = 300L,
      n: Int = 2): org.apache.spark.sql.DataFrame =
    qualityGateFrom(df, id,
      Bridge.column(graft.functions.GateStats(Bridge.expression(text), stopwords)),
      Bridge.column(graft.functions.GramRepetition(Bridge.expression(text), n)),
      minTokens, maxTokens, minMeanTokLenPermille, maxMeanTokLenPermille,
      minStopwordPermille, maxTopGramPermille)

  /** The gate verdict as ONE boolean expression — the gate-as-filter form
    * for pipelines that only APPLY the gate: `docs.filter(qualityKeep(
    * text, …))` keeps exactly the rows `docs.join(qualityGate(docs, …)
    * .filter($"keep").select(id), id)` keeps (spec-pinned), but as a
    * single map-side predicate fused into the scan — no self-join, no
    * shuffle, and structurally immune to the conjunct-inlining that
    * multiplies per-row kernel evaluations when a filter condition is
    * built from the gate's signal columns (see
    * [[graft.functions.QualityKeepKernel]] — measured ~6 kernel copies
    * per row in the join form's optimized plan). Use [[qualityGate]] when
    * the per-signal audit columns are the point. */
  def qualityKeep(
      text: Column,
      stopwords: Seq[String] = StopwordProfiles.toMap.apply("en"),
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanTokLenPermille: Long = 3000L, maxMeanTokLenPermille: Long = 10000L,
      minStopwordPermille: Long = 20L,
      maxTopGramPermille: Long = 300L,
      n: Int = 2): Column =
    Bridge.column(graft.functions.QualityKeep(Bridge.expression(text), stopwords,
      minTokens, maxTokens, minMeanTokLenPermille, maxMeanTokLenPermille,
      minStopwordPermille, maxTopGramPermille, n))

  /** Built-ins-composed reference form of [[qualityGate]] — the three
    * token-level signals as the interpreted HOF columns the fused
    * [[graft.functions.GateStats]] kernel replaces (the HOFs evaluate
    * per-element interpreted and dominated the gate stage's CPU at 10M
    * docs). Kept for the equivalence spec; value-identical output. */
  def qualityGateComposed(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      stopwords: Seq[String] = StopwordProfiles.toMap.apply("en"),
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanTokLenPermille: Long = 3000L, maxMeanTokLenPermille: Long = 10000L,
      minStopwordPermille: Long = 20L,
      maxTopGramPermille: Long = 300L,
      n: Int = 2): org.apache.spark.sql.DataFrame =
    qualityGateFrom(df, id,
      struct(
        tokenCount(text).cast("long").as("n_tokens"),
        tokenCharCount(text).as("token_chars"),
        stopwordCount(lower(text), stopwords).cast("long").as("stopword_count")),
      Bridge.column(graft.functions.GramRepetition(Bridge.expression(text), n)),
      minTokens, maxTokens, minMeanTokLenPermille, maxMeanTokLenPermille,
      minStopwordPermille, maxTopGramPermille)

  private def qualityGateFrom(
      df: org.apache.spark.sql.DataFrame, id: Column, gs: Column, rep: Column,
      minTokens: Long, maxTokens: Long,
      minMeanTokLenPermille: Long, maxMeanTokLenPermille: Long,
      minStopwordPermille: Long,
      maxTopGramPermille: Long): org.apache.spark.sql.DataFrame = {
    // the evidence structs are aliased ONCE in their own projection and
    // the signal columns derive from the alias: CollapseProject refuses to
    // inline a non-cheap alias referenced more than once, so the kernels
    // evaluate one time per row however many signals read them (writing
    // the kernel expression into each signal column hands the optimizer
    // N copies it will never re-unify)
    df.select(id.as("doc_id"), gs.as("__gs"), rep.as("__rep"))
      .select(
        col("doc_id"),
        col("__gs").getField("n_tokens").as("n_tokens"),
        perMille(col("__gs").getField("token_chars"), col("__gs").getField("n_tokens"))
          .as("mean_tok_len_permille"),
        perMille(col("__gs").getField("stopword_count"), col("__gs").getField("n_tokens"))
          .as("stopword_permille"),
        coalesce(
          perMille(col("__rep").getField("max_gram_count"), col("__rep").getField("n_grams")),
          lit(0L))
          .as("top_gram_permille"))
      .withColumn("too_short", col("n_tokens") < minTokens)
      .withColumn("too_long", col("n_tokens") > maxTokens)
      .withColumn("bad_token_shape",
        col("mean_tok_len_permille") < minMeanTokLenPermille ||
          col("mean_tok_len_permille") > maxMeanTokLenPermille)
      .withColumn("low_stopword", col("stopword_permille") < minStopwordPermille)
      .withColumn("repetitive", col("top_gram_permille") > maxTopGramPermille)
      .withColumn("keep",
        !col("too_short") && !col("too_long") && !col("bad_token_shape") &&
          !col("low_stopword") && !col("repetitive"))
  }
}
