package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder prompt: "brute-force cosine top-k as the baseline; an LSH-
  * bucketed variant as the scale path").
  *
  * Scale shape: brute force is queries × corpus — correct baseline, used
  * for small query batches and as the recall oracle. The LSH path hashes
  * every vector to a random-hyperplane sign bucket, so candidate
  * generation is an equi-join on the bucket key (plus multi-probe
  * neighbors to recover near-boundary vectors); only candidates pay the
  * exact-distance evaluation. At 1000 executors both sides shuffle on the
  * bucket key; nothing is quadratic in corpus size.
  */
object Similarity {

  private def bridge2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
      org.apache.spark.sql.catalyst.expressions.Expression) =>
      org.apache.spark.sql.catalyst.expressions.Expression)(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(f(Bridge.expression(a), Bridge.expression(b)))
  }

  /** dot(a, b) in double precision, left-to-right accumulation
    * (deterministic — arrays, not shuffles, define the order). Native
    * [[graft.functions.DotProduct]]: the HOF form evaluates interpreted
    * per element and dominated the ANN scans. */
  def dot(a: Column, b: Column): Column = bridge2(graft.functions.DotProduct(_, _))(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Integer-quantized dot product: floor(x·1000) per component, then an
    * exact BIGINT sum — engine-neutral (the DuckDB oracle replays it
    * bit-for-bit, which float accumulation cannot guarantee). Ranking
    * fidelity at 3 decimal places is ample for neighbor ordering.
    * Native [[graft.functions.QuantizedDot]]; [[quantizedDotComposed]] is
    * the built-ins reference it is property-tested against. */
  def quantizedDot(a: Column, b: Column): Column =
    bridge2(graft.functions.QuantizedDot(_, _))(a, b)

  /** Built-ins-only reference form of [[quantizedDot]] (for the spec).
    * Length-mismatched inputs truncate to the shorter array like the
    * native kernel does — bare `zip_with` pads the short side with nulls
    * and the aggregate would return NULL where [[quantizedDot]] returns
    * the truncated dot, silently weakening the equivalence property on
    * malformed rows. */
  def quantizedDotComposed(a: Column, b: Column): Column = {
    val n = least(size(a), size(b))
    aggregate(
      zip_with(
        transform(slice(a, lit(1), n), x => floor(x.cast("double") * 1000).cast("long")),
        transform(slice(b, lit(1), n), x => floor(x.cast("double") * 1000).cast("long")),
        (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
  }

  /** Brute-force top-k: for every query row, the k corpus rows with the
    * highest `score` (ties by corpus id asc), excluding self-matches on
    * equal ids. One cross join + one per-query window — the baseline and
    * the recall oracle for [[lshTopK]].
    * → (query_id, neighbor_id, rank, score).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      score: (Column, Column) => Column): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** Sign-random-projection bucket id from `planes` hyperplanes — the
    * native [[graft.functions.LshBucket]] expression (the unrolled Column
    * form takes minutes of Janino compilation at multi-table widths).
    * `table` selects an independent plane family. */
  def lshBucket(emb: Column, planes: Int, table: Int = 0): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.LshBucket(
        org.apache.spark.sql.graft.Bridge.expression(emb), planes, table))

  /** Seeded k-means cell table (cell_id, centroid) over `corpus.embedding`
    * — the coarse quantizer shared by [[ivfTopK]] and [[semDedup]].
    * Random init: k-means|| initialization is itself several distributed
    * passes; for coarse buckets (not a clustering deliverable) seeded
    * random init + a few Lloyd iterations is the right trade. */
  def fitCells(corpus: DataFrame, nlist: Int, seed: Long = 42L, maxIter: Int = 10): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random").fit(train)
    corpus.sparkSession.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
        .toIndexedSeq)
      .toDF("cell_id", "centroid")
  }

  /** Top-`n` nearest cells per row, MAP-SIDE: the centroid table is tiny
    * and already driver-derived (one k-means fit), so it is collected
    * once (eager, at call time) and embedded as a single array literal;
    * each row ranks every cell inside one expression
    * (sort by (−score, cell_id), slice n, explode) and the corpus never
    * enters an exchange for its assignment. The previous spelling —
    * cross join × centroids then a row_number window partitioned by id —
    * shuffled `nlist` copies of EVERY embedding through the window
    * exchange (nlist× the corpus embedding mass at 10M rows) before any
    * cell-keyed work; same (−score asc, cell_id asc) order, identical
    * assignments. Keep nlist modest (≤ a few thousand): the literal is
    * nlist·dim floats riding in the plan. */
  private def assignCells(
      df: DataFrame, idCol: String, embCol: String, centroids: DataFrame, n: Int,
      score: (Column, Column) => Column): DataFrame = {
    require(n >= 1, s"cell assignment needs n >= 1, got $n")
    val cents = centroids.select(col("cell_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    require(cents.nonEmpty, "empty centroid table")
    val centArr = typedlit(cents)
    val ranked = array_sort(transform(centArr, c =>
      struct((-score(col(embCol), c.getField("_2"))).as("d"),
        c.getField("_1").as("cid"))))
    df.withColumn("__cells", slice(ranked, 1, n))
      .select(col(idCol), col(embCol), explode(col("__cells")).as("__c"))
      .select(col(idCol), col(embCol), col("__c.cid").as("cell_id"))
  }

  /** IVF (inverted-file) ANN top-k: k-means partitions the corpus into
    * `nlist` cells; a query probes only its `nprobe` nearest cells and
    * re-ranks exactly within them. The index build is one MLlib KMeans fit
    * (seeded — deterministic) + one map-side assignment pass
    * ([[assignCells]]); the query path is the cell-keyed equi-join + the
    * exact scorer. Complements [[lshTopK]]: IVF adapts to the data's
    * cluster structure (higher recall on clustered corpora), LSH needs no
    * training pass.
    *
    * Scale shape: centroids are tiny (`nlist` rows, collected once);
    * assignment is map-side; the corpus shuffles once on cell id;
    * per-query work is `nprobe/nlist` of the corpus — never corpus².
    * → (query_id, neighbor_id, rank, score).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int, nprobe: Int,
      score: (Column, Column) => Column, seed: Long = 42L,
      maxIter: Int = 10): DataFrame = {
    require(nlist >= 1, s"ivfTopK needs nlist >= 1, got $nlist")
    ivfTopKWithCentroids(queries, corpus, k, nprobe,
      fitCells(corpus, nlist, seed, maxIter), score)
  }

  /** [[ivfTopK]]'s ENTIRE query path with the coarse quantizer supplied
    * instead of trained: (cell_id, centroid) rows from any source —
    * [[fitCells]] (what [[ivfTopK]] passes), a persisted index, or a
    * LITERAL table. The split exists so the plan path is hash-oracle-able:
    * a trained k-means quantizer is float iteration order no external
    * engine replays, but with FIXED centroids every stage downstream of
    * training — cell assignment, nprobe probing, the cell-keyed equi-join,
    * exact re-rank — is closed-form integer arithmetic DuckDB can replay
    * bit-for-bit (the q75/q76/q78 pattern: oracle the at-scale plan path
    * under a twin query with a deterministic input). The trained config
    * stays quality-pinned by the published recall-vs-nprobe curve. */
  def ivfTopKWithCentroids(
      queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      centroids: DataFrame, score: (Column, Column) => Column): DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"ivfTopK needs k/nprobe >= 1, got k=$k nprobe=$nprobe " +
        "(a non-positive nprobe would silently probe nothing and return an empty result)")
    val corpusCells = assignCells(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
      "neighbor_id", "c_emb", centroids, 1, score)
    val queryProbes = assignCells(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", centroids, nprobe, score)
      .withColumnRenamed("cell_id", "probe_cell")

    val scored = queryProbes
      .join(corpusCells, col("probe_cell") === corpusCells("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus into k-means cells, mine
    * above-threshold cosine pairs WITHIN each cell only, connect them
    * transitively, and keep one representative (min id) per duplicate
    * group. Cross-cell near-duplicates are missed by construction — that
    * is SemDeDup's accepted trade: pairwise work drops from corpus² to
    * Σ cell², with `nlist` the dial (cells ≈ corpus/nlist rows each).
    *
    * Composition of existing scale-shaped pieces: [[fitCells]] (seeded —
    * deterministic) + one shuffle on cell_id for the self-join +
    * [[Components.connectedComponents]] on the pair graph.
    *
    * → (vec_id, component_id, keep): keep = this row is its group's
    * representative; singleton rows keep themselves.
    */
  def semDedup(
      corpus: DataFrame, nlist: Int, minScoreQ: Long,
      score: (Column, Column) => Column, seed: Long = 42L,
      maxIter: Int = 10, nassign: Int = 1): DataFrame = {
    require(nlist >= 1, s"semDedup needs nlist >= 1, got $nlist")
    semDedupWithCentroids(corpus,
      fitCells(corpus, nlist, seed, maxIter), minScoreQ, score, nassign)
  }

  /** [[semDedup]]'s ENTIRE dedup path with the cell table supplied instead
    * of trained — same split, same reason as [[ivfTopKWithCentroids]]:
    * with FIXED centroids, overlap assignment → within-cell τ-pairs →
    * connected components → min-id keeper is exact integer/compare
    * arithmetic end to end, so a twin query over a literal cell table
    * hash-oracles every stage the trained config runs. */
  def semDedupWithCentroids(
      corpus: DataFrame, centroids: DataFrame, minScoreQ: Long,
      score: (Column, Column) => Column, nassign: Int = 1): DataFrame = {
    require(nassign >= 1,
      s"semDedup needs nassign >= 1, got nassign=$nassign " +
        "(a non-positive nassign would silently mine zero pairs and mark every doc keep=true)")
    // overlap assignment (`nassign` > 1): each vector joins its top-n
    // cells, so a pair straddling a cell boundary still meets in the
    // runner-up cell — the standard recall fix for loose duplicate sets;
    // pairwise work scales by ≤ nassign², the corpus-size term does not
    val cells = assignCells(
      corpus.select(col("vec_id").as("id"), col("embedding").as("emb")),
      "id", "emb", centroids, nassign, score)
    // within-cell pairs above threshold: equi-join on cell_id, a < b.
    // shuffle_hash — both sides are the same cell-keyed subplan (one
    // exchange, ReuseExchange), and sorting rows that carry embedding
    // arrays buys nothing a hash table doesn't.
    val a = cells.select(col("cell_id"), col("id").as("a_id"), col("emb").as("a_emb"))
    val b = cells.select(col("cell_id").as("cell2"), col("id").as("b_id"), col("emb").as("b_emb"))
    val pairs = a.hint("shuffle_hash")
      .join(b, col("cell_id") === col("cell2") && col("a_id") < col("b_id"))
      .withColumn("score_q", score(col("a_emb"), col("b_emb")))
      .filter(col("score_q") >= minScoreQ)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      // a pair can meet in up to nassign² shared cells; edges are a tiny
      // fraction of the corpus, so a distinct() here is cheap (Components
      // symmetrizes edges anyway, so duplicates would only waste work)
      .distinct()
    Components.connectedComponents(
      corpus.select(col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("component_id"),
        (col("id") === col("component_id")).as("keep"))
  }

  /** Multi-table LSH ANN top-k: `tables` independent plane families; in
    * each table, candidates = corpus vectors in the query's bucket or any
    * ≤`probeBits`-bit flip of it (multi-probe recovers vectors just across
    * a hyperplane); the union of candidates is re-ranked exactly. The
    * recall dial is (tables ↑, planes ↓, probeBits ↑); cost is the
    * candidate count, never corpus².
    *
    * Scale shape: the corpus is hashed once per table (an explode, then
    * the indexed side of a hash-partitioned equi-join on (table, bucket));
    * probing explodes only the query side.
    * → (query_id, neighbor_id, rank, score); recall vs [[bruteForceTopK]]
    * is property-tested, not assumed.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, planes: Int,
      score: (Column, Column) => Column, probeBits: Int = 1, tables: Int = 4): DataFrame = {
    val candidateIds = lshCandidateIds(queries, corpus, planes, probeBits, tables)
    val scored = candidateIds
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")), "neighbor_id")
      .withColumn("score", score(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** The multi-table multi-probe candidate generator shared by the float
    * and int8 re-rankers: (query_id, neighbor_id) id pairs, deduped
    * BEFORE any embedding array is touched — a neighbor can match several
    * (table, probe) pairs, and distinct over wide float-array rows costs
    * far more than over two longs. */
  private def lshCandidateIds(
      queries: DataFrame, corpus: DataFrame, planes: Int,
      probeBits: Int, tables: Int): DataFrame = {
    require(planes >= 1 && planes < 63, s"planes must be in [1, 62], got $planes")
    // same silent-empty failure mode the planes check exists for:
    // tables=0 explodes an empty array — zero candidates, no error
    require(tables >= 1, s"tables must be >= 1, got $tables")
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits must be in [0, planes], got $probeBits")
    val cBuckets = (0 until tables).map(t =>
      struct(lit(t).as("t"), lshBucket(col("embedding"), planes, t).as("b")))
    val c = corpus
      .select(col("vec_id").as("neighbor_id"), explode(array(cBuckets: _*)).as("tb"))
      .select(col("neighbor_id"), col("tb.t").as("c_table"), col("tb.b").as("c_bucket"))
    // masks with <= probeBits set bits, enumerated DIRECTLY (sum of
    // C(planes, i)): filtering 0..2^planes burned minutes of driver CPU
    // at planes ~30 and silently produced an EMPTY mask list at planes
    // >= 63 (the shifted range went negative) -- zero candidates, no error
    val masks: Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer(0L)
      def choose(start: Int, remaining: Int, acc: Long): Unit =
        if (remaining > 0) {
          var i = start
          while (i < planes) {
            out += (acc | (1L << i))
            choose(i + 1, remaining - 1, acc | (1L << i))
            i += 1
          }
        }
      choose(0, probeBits, 0L)
      out.toSeq
    }
    // compute each table's bucket once as a column, then explode the
    // (table, bucket ^ mask) probe list — keeps the plan tree linear in
    // tables, not tables × masks
    val qb = (0 until tables).foldLeft(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))) {
      (df, t) => df.withColumn(s"__qb_$t", lshBucket(col("q_emb"), planes, t))
    }
    val qProbes = for (t <- 0 until tables; m <- masks)
      yield struct(lit(t).as("t"), col(s"__qb_$t").bitwiseXOR(lit(m)).as("b"))
    qb.select(col("query_id"), explode(array(qProbes: _*)).as("tb"))
      .select(col("query_id"), col("tb.t").as("q_table"), col("tb.b").as("probe"))
      .join(c, col("q_table") === col("c_table") && col("probe") === col("c_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      // dedup keyed on query_id ALONE (a subset of the distinct key
      // satisfies the aggregate's clustering requirement), not the
      // planner's (query_id, neighbor_id): the downstream top-k window
      // partitions by query_id, so dedup and window ride ONE exchange
      // (guide §2.4 — two operations keyed the same way share one
      // exchange) whenever the re-rank joins are broadcast (the embedding
      // sides small enough to ship). When the corpus re-rank join shuffles
      // instead, its neighbor_id exchange re-keys between them and the
      // count is unchanged — this is never an extra exchange. The rows
      // crossing it are the same two longs either way; what moves is only
      // map-side PARTIAL dedup (duplicates from multi-table probe
      // collisions now cross the wire) — bounded by `tables`, and far
      // cheaper than a second candidate-set exchange.
      .repartition(col("query_id"))
      .distinct()
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))

  /** Per-row symmetric int8 quantization: `scale8` = max |component| (0
    * for the zero vector), `code8ᵢ` = round(127·xᵢ/scale8) as tinyint —
    * reconstruction error ≤ scale8/254 per component. The 100 TB play:
    * the stored ANN index keeps codes + one float scale (4× smaller than
    * float32) and DROPS the float embeddings after bucketing. Built-in
    * HOFs are fine here — quantization is the index-BUILD pass; the scan
    * kernel is the native [[graft.functions.Int8Dot]].
    *
    * The code arithmetic runs in DOUBLE on purpose: float32 inputs widen
    * exactly, and a single double multiply/divide + ties-away-from-zero
    * round is IEEE-determined — every engine (the DuckDB oracle included)
    * derives the SAME codes, where float-precision intermediates would
    * leave the last ulp (and so a code at a .5 boundary) engine-dependent. */
  def int8Quantize(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val e = col(embCol)
    df.withColumn("scale8",
        coalesce(array_max(transform(e, x => abs(x))), lit(0f)).cast("float"))
      .withColumn("code8",
        when(col("scale8") === 0f,
          transform(e, _ => lit(0).cast("byte")))
          .otherwise(transform(e, x =>
            round(x.cast("double") * lit(127.0) / col("scale8").cast("double")).cast("byte"))))
  }

  /** Approximate dot from int8 codes: int8_dot(a,b) · sa·sb / 127². */
  def int8Score(aCode: Column, aScale: Column, bCode: Column, bScale: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(graft.functions.Int8Dot(
      org.apache.spark.sql.graft.Bridge.expression(aCode),
      org.apache.spark.sql.graft.Bridge.expression(bCode))) *
      aScale.cast("double") * bScale.cast("double") / lit(16129.0)

  /** [[lshTopK]] with int8-quantized re-ranking — the memory-bound-ANN
    * configuration: same multi-table multi-probe candidate generation
    * (buckets hash the floats at index-build time), but the re-rank scan
    * reads 1-byte codes through the integer [[graft.functions.Int8Dot]]
    * kernel, so the serving index is ~4× smaller and the scan ~4× less
    * memory-bandwidth-bound. Recall vs the exact float scorer is
    * property-tested, not assumed. */
  def lshTopKInt8(
      queries: DataFrame, corpus: DataFrame, k: Int, planes: Int,
      probeBits: Int = 1, tables: Int = 4): DataFrame = {
    val candidateIds = lshCandidateIds(queries, corpus, planes, probeBits, tables)
    val cIdx = int8Quantize(corpus.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("neighbor_id"),
        col("code8").as("c_code"), col("scale8").as("c_scale"))
    val qIdx = int8Quantize(queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"),
        col("code8").as("q_code"), col("scale8").as("q_scale"))
    val scored = candidateIds
      .join(qIdx, "query_id")
      .join(cIdx, "neighbor_id")
      .withColumn("score",
        int8Score(col("q_code"), col("q_scale"), col("c_code"), col("c_scale")))
    rankTopK(scored, k)
  }
}
