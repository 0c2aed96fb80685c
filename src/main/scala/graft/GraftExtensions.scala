package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DeletionVariants, DotProduct, Int8Dot, LangId, Lev1Witness, LshBucket, MinHashSig, QuantizedDot, RemoveTokenSpans, RollingHash, ShingleHashes, ShingleHashesAll, Shingles, SimHash, TokenHashes, Unaccent}

/** `SparkSessionExtensions` hook exposing the engine's native expressions to
  * SQL (`spark.sql("SELECT unaccent(name) ...")`) — register with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Everything here is also reachable through the typed Column API; SQL
  * registration is for `spark.sql` pipelines and external SQL front-ends.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def register(
      ext: SparkSessionExtensions, name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit = {
    val builder: FunctionRegistry.FunctionBuilder = { args =>
      require(args.length == arity, s"$name expects $arity argument(s), got ${args.length}")
      build(args)
    }
    ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // cartesian lev<=1 filters → deletion-neighborhood blocked equi-join
    ext.injectOptimizerRule(_ => graft.plans.RewriteLevenshteinJoin)
    // keyless range-band joins → bucketed equi-join (opt-in via
    // spark.graft.rangeJoin.bucketWidth)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRangeJoin)
    register(ext, "unaccent",
      "unaccent(str) - unidecode-style ASCII transliteration (reference UNACCENT parity)", 1) {
      args => Unaccent(args.head)
    }
    register(ext, "rolling_hash",
      "rolling_hash(str) - engine-neutral polynomial code-point hash mod 1e9+7", 1) {
      args => RollingHash(args.head)
    }
    register(ext, "token_hashes",
      "token_hashes(str) - rolling_hash of each whitespace token (duplicates kept)", 1) {
      args => TokenHashes(args.head)
    }
    register(ext, "shingle_hashes",
      "shingle_hashes(str, n) - distinct rolling_hash of word n-grams", 2) {
      args => ShingleHashes(args.head, foldableInt(args(1), "shingle_hashes n"))
    }
    register(ext, "shingles",
      "shingles(str, n) - distinct space-joined word n-grams as strings", 2) {
      args => Shingles(args.head, foldableInt(args(1), "shingles n"))
    }
    register(ext, "shingle_hashes_all",
      "shingle_hashes_all(str, n) - rolling_hash of word n-grams, duplicates kept", 2) {
      args => ShingleHashesAll(args.head, foldableInt(args(1), "shingle_hashes_all n"))
    }
    register(ext, "shingles_all",
      "shingles_all(str, n) - space-joined word n-grams as strings, duplicates kept", 2) {
      args => graft.functions.ShinglesAll(args.head, foldableInt(args(1), "shingles_all n"))
    }
    register(ext, "shingle_hashes_wide_all",
      "shingle_hashes_wide_all(str, n) - ~60-bit two-base n-gram hashes, duplicates kept", 2) {
      args => graft.functions.ShingleHashesWideAll(
        args.head, foldableInt(args(1), "shingle_hashes_wide_all n"))
    }
    register(ext, "gram_repetition",
      "gram_repetition(str, n) - struct(n_grams, n_distinct_grams, max_gram_count) per row", 2) {
      args => graft.functions.GramRepetition(args.head, foldableInt(args(1), "gram_repetition n"))
    }
    register(ext, "gate_stats",
      "gate_stats(str, stopwords_array) - struct(n_tokens, token_chars, stopword_count) in one pass", 2) {
      args => graft.functions.GateStats(
        args.head, foldableStringSeq(args(1), "gate_stats stopwords"))
    }
    register(ext, "remove_token_spans",
      "remove_token_spans(str, starts, ends) - cut the [startsᵢ, endsᵢ) token ranges, re-join with spaces", 3) {
      args => RemoveTokenSpans(args.head, args(1), args(2))
    }
    register(ext, "simhash",
      "simhash(array<bigint>) - 30-bit SimHash signature of a token-hash bag", 1) {
      args => SimHash(args.head)
    }
    register(ext, "deletion_variants",
      "deletion_variants(str) - the string plus each single-char deletion (lev<=1 blocking keys)", 1) {
      args => DeletionVariants(args.head)
    }
    register(ext, "lev1_witness",
      "lev1_witness(a, b) - canonical shared deletion variant of a lev<=1 pair, null if lev>=2 by length", 2) {
      args => Lev1Witness(args.head, args(1))
    }
    register(ext, "dot_product",
      "dot_product(array<float|double>, array<float|double>) - double dot product", 2) {
      args => DotProduct(args.head, args(1))
    }
    register(ext, "quantized_dot",
      "quantized_dot(a, b) - exact BIGINT dot of floor(x*1000) components", 2) {
      args => QuantizedDot(args.head, args(1))
    }
    register(ext, "int8_dot",
      "int8_dot(array<tinyint>, array<tinyint>) - exact BIGINT dot of int8 code vectors", 2) {
      args => Int8Dot(args.head, args(1))
    }
    register(ext, "lang_id",
      "lang_id(str) - stopword-evidence language guess (de/en/es/fr/und)", 1) {
      args => LangId(args.head)
    }
    register(ext, "minhash_sig",
      "minhash_sig(array<bigint>, k) - k-permutation MinHash signature of a shingle-hash set", 2) {
      args => MinHashSig(args.head, foldableInt(args(1), "minhash_sig k"))
    }
    register(ext, "lsh_bucket",
      "lsh_bucket(array<float|double>, planes, table) - sign-random-projection bucket", 3) {
      args => LshBucket(args.head,
        foldableInt(args(1), "lsh_bucket planes"), foldableInt(args(2), "lsh_bucket table"))
    }
    // not a custom Expression: the builder expands to the same composed
    // builtin tree the Column API produces, so SQL and Column users get
    // byte-identical semantics from one definition
    register(ext, "strip_markup",
      "strip_markup(str) - drop script/style elements with payload, strip tags, unescape core entities, collapse whitespace", 1) {
      args => graft.operators.TextAnalysis.stripMarkupExpr(args.head)
    }
    register(ext, "html_text",
      "html_text(str) - structural (tokenizer) markup strip: quote-aware attrs, pre fidelity, numeric entities, alt/title text", 1) {
      args => graft.functions.HtmlText(args.head, attrText = true)
    }
    // an AggregateFunction expression: the analyzer wraps it in an
    // AggregateExpression when it appears under GROUP BY
    register(ext, "bounded_sorted_collect",
      "bounded_sorted_collect(expr, min_size, cap) - array_sort(collect_list(expr)) fused with the [min_size, cap] size filter; the cap bounds the aggregation buffer itself (over-cap groups -> NULL without materializing)", 3) {
      args => graft.functions.BoundedSortedCollect(args.head,
        foldableInt(args(1), "bounded_sorted_collect min_size"),
        foldableInt(args(2), "bounded_sorted_collect cap"))
    }
  }

  private def foldableStringSeq(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"$what must be a literal array of strings")
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType).toIndexedSeq.map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case null => throw new IllegalArgumentException(
            s"$what must be an array of non-null strings, got a NULL element")
          case other => throw new IllegalArgumentException(
            s"$what must be an array of strings, got element $other")
        }
      case other => throw new IllegalArgumentException(
        s"$what must be an array of strings, got $other")
    }
  }

  private def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$what must be an integer, got $other")
    }
  }
}
