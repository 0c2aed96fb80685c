package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Executes the README's "Composing the pipeline tier: a curation DAG"
  * example on the real fixture, so the documented composition cannot
  * drift from the actual operator signatures, and pins the invariants a
  * curation pass must hold: redaction is identity on a PII-free corpus,
  * stages only shrink the corpus, dedup keeps exactly the best doc per
  * duplicate group, span rewrite never lengthens a doc, the
  * contamination gate removes every flagged doc, the temperature mix
  * keeps the smallest language whole, the token budget keeps a
  * quality-ranked prefix, packing assigns every survivor a valid slot,
  * and the final hash split covers every survivor deterministically.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("markup strip → pii scrub → gate → dedup → rewrite → decontam → mix → budget → packing → split holds its invariants") {
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = raw.count()

    // -1. markup strip (the web-ingest front door): the fixture carries
    // no markup, so stripping must reduce to pure whitespace
    // normalization — pinned below
    val docs = raw.withColumn("text", TextAnalysis.stripMarkup($"text"))
    assert(docs.join(raw.select($"doc_id", $"text".as("orig")), "doc_id")
      .filter($"text" =!= trim(regexp_replace($"orig", "\\s+", " "))).count() == 0,
      "markup-free fixture -> whitespace normalization only")

    // 0. PII redaction + language tag (map-side projection, NO join/
    // shuffle; corpus carries no PII, so redaction must be the identity —
    // pinned below)
    val redacted = docs.withColumn("text", Pii.scrub($"text"))
      .withColumn("lang", TextAnalysis.langId($"text"))
    assert(redacted.count() == total)
    assert(redacted.join(docs.select($"doc_id", $"text".as("orig")), "doc_id")
      .filter($"text" =!= $"orig").count() == 0, "no PII in fixture -> identity")

    // 1. composite quality gate, predicate form (the README example):
    // one fused kernel evaluation in the scan; must keep exactly the
    // rows the audit-form join keeps
    val kept = redacted.filter(TextAnalysis.qualityKeep($"text",
      minTokens = 20L, minStopwordPermille = 10L, maxTopGramPermille = 300L))
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= total)
    assert(nKept == redacted.join(
      TextAnalysis.qualityGate(redacted, $"doc_id", $"text",
        minTokens = 20L, minStopwordPermille = 10L, maxTopGramPermille = 300L)
        .filter($"keep").select("doc_id"), "doc_id").count(),
      "predicate form ≡ audit-form join")

    // 2. near-dup dedup decision: LSH pairs -> components over the pair
    // endpoints -> keep the BEST doc of each duplicate group (longest,
    // ties to smallest id), applied as a drop-list anti join. Pairs are
    // persisted because the decision reads them twice (a checkpointing
    // pipeline gets that from its stage writes).
    val pairs = Dedup.minhashNearDupPairs(kept, $"doc_id", $"text", 3, 8, 4, 800).persist()
    val touched = pairs.select($"a_id".as("id"))
      .unionByName(pairs.select($"b_id".as("id"))).distinct()
    val comp = Components.connectedComponents(
      touched, pairs.select($"a_id".as("src"), $"b_id".as("dst")))
      .select($"id".as("doc_id"), $"component_id")
    val verdicts = Dedup.keepBest(comp.join(kept.select($"doc_id", $"n_chars"), "doc_id"),
      $"doc_id", $"component_id", Seq($"n_chars".desc, $"doc_id".asc))
    val uniq = kept.join(verdicts.filter(!$"is_kept").select("doc_id"),
      Seq("doc_id"), "left_anti")
    val nUniq = uniq.count()
    val nTouched = touched.count()
    val nClusters = comp.select("component_id").distinct().count()
    pairs.unpersist()
    assert(nUniq == nKept - nTouched + nClusters,
      "exactly one survivor per duplicate group, untouched docs all pass")
    assert(nUniq <= nKept)

    // 3. exact-substring rewrite: cut duplicated >= 13-token runs that
    // survived doc-level dedup (sub-threshold overlaps), keep the rest;
    // metadata rides THROUGH removeSpans (no corpus re-join); the
    // rewrite can only shorten a doc, never lengthen it
    val spans = Dedup.duplicateSpans(uniq, $"doc_id", $"text", n = 13)
    val rewritten = Dedup.removeSpans(uniq, $"doc_id", $"text", spans,
      keepCols = uniq.columns.filterNot(Set("doc_id", "text")).toSeq)
      .withColumnRenamed("clean_text", "text")
      .filter(TextAnalysis.tokenCount($"text") > 0)
    assert(rewritten.count() <= nUniq)
    val lengthened = rewritten.select($"doc_id", TextAnalysis.tokenCount($"text").as("nt"))
      .join(uniq.select($"doc_id", TextAnalysis.tokenCount($"text").as("orig")), "doc_id")
      .filter($"nt" > $"orig").count()
    assert(lengthened == 0, "span removal only shortens")

    // 4. contamination gate against a held-out "benchmark" (source src0)
    val benchDocs = docs.filter($"source" === "src0").select("doc_id", "text")
    val flagged = Contamination.ngramOverlapPairs(benchDocs, $"doc_id", $"text",
        rewritten, $"doc_id", $"text", 3, 2)
      .select($"train_id".as("doc_id")).distinct()
    val clean = rewritten.join(flagged, Seq("doc_id"), "left_anti")
    val nClean = clean.count()
    assert(nClean ==
      rewritten.count() - flagged.join(rewritten.select("doc_id"), "doc_id").count())

    // 5. temperature mix (α=0.5): damp the dominant language, smallest
    // keeps everything
    val mixed = Sampling.temperatureResample(clean, $"lang", $"doc_id", alpha = 0.5)
      .filter($"kept").drop("keep_permille", "kept")
    val minLang = clean.groupBy("lang").count().orderBy($"count".asc, $"lang".asc)
      .as[(String, Long)].head()._1
    assert(mixed.filter($"lang" === minLang).count() ==
      clean.filter($"lang" === minLang).count(), "smallest language keeps all")

    // 6. token-budget curation per language: best docs first until the
    // budget fills — the kept set is a quality-ranked prefix
    val budgeted = Sampling.budgetSelect(mixed, $"lang",
      Seq($"n_chars".desc, $"doc_id".asc), TextAnalysis.tokenCount($"text").cast("long"),
      budget = 100000L).filter($"kept").drop("cum_weight", "kept")
    val nBudget = budgeted.count()
    assert(nBudget > 0 && nBudget <= mixed.count())

    // 7. pack the survivors into context windows per language shard
    val packed = Packing.sequencePacking(budgeted, "lang", "doc_id",
      TextAnalysis.tokenCount($"text"), capacity = 4096)
    assert(packed.count() == nBudget)
    val bad = packed.filter($"offset_in_bin" < 0 || $"offset_in_bin" >= 4096 ||
      $"bin_id" < 0 || $"pack_offset" < 0).count()
    assert(bad == 0, "every survivor has a valid window slot")

    // 8. deterministic split LAST: total cover, and re-running the whole
    // DAG cannot move a doc between train and val (hash of doc_id alone)
    val split = Sampling.hashSplit(packed, $"doc_id", Seq("train" -> 950, "val" -> 50))
    assert(split.filter($"split".isNull).count() == 0)
    assert(split.count() == nBudget)
    val again = Sampling.hashSplit(packed, $"doc_id", Seq("train" -> 950, "val" -> 50))
    assert(split.select("doc_id", "split").except(again.select("doc_id", "split")).count() == 0)

    // 9. training-order shuffle: the train split lands in reproducible
    // shards; every doc exactly one (shard, pos) slot, positions dense
    // per shard — reading shards in order IS the epoch's permutation
    val train = split.filter($"split" === "train")
    val sharded = Sampling.shuffleShards(train, $"doc_id", numShards = 4)
    assert(sharded.count() == train.count())
    val slots = sharded.select($"shard", $"pos_in_shard")
      .as[(Long, Long)].collect()
    assert(slots.toSet.size == slots.length, "slots are unique")
    slots.groupBy(_._1).values.foreach { ps =>
      assert(ps.map(_._2).sorted.toSeq == (1L to ps.length), "dense positions")
    }
  }
}
