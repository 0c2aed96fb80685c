package graft.tools

import org.apache.spark.sql.functions._

import graft.musicbrainz.{GenerateDataset, GoldenCsv, MatchOps}

/** The reference's triage CLIs as one main (`src/benchmark.py:221-242`
  * takes `--artist`/`--title` prefix filters over the golden CSV;
  * `src/main.py:329-333` takes `--artist`/`--artist_id` for single-case
  * debugging). Programmatic equivalents exist ([[MatchOps.explainQuery]],
  * [[MatchOps.diffReport]], [[MatchOps.accuracy]]); this wires them to
  * the same flag surface so a reference user's muscle memory keeps
  * working.
  *
  * Usage:
  *   runMain graft.tools.MatchCli --csv <golden.csv> --export <parquet dir>
  *     [--artist <prefix>] [--title <prefix>] [--explain] [--diff]
  *
  * Filters are case-insensitive prefixes like the reference's. Default
  * output is the accuracy counters over the filtered queries; `--diff`
  * adds the per-query wrong/missing report; `--explain` dumps the full
  * scored candidate set (winner flagged) for every filtered query — use
  * it with a filter that narrows to a handful of rows, exactly like the
  * reference's single-case runs.
  */
object MatchCli {
  def main(args: Array[String]): Unit = {
    def arg(name: String): Option[String] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val csvPath = arg("--csv").getOrElse(
      sys.error("--csv <golden benchmark csv> is required"))
    val exportDir = arg("--export").getOrElse(
      sys.error("--export <parquet export dir, written by GenerateDataset.write> is required"))

    val spark = BenchUtil.session("spark.sql.shuffle.partitions" -> "32")

    val golden0 = GoldenCsv.read(spark, csvPath)
    val golden = Seq(
      arg("--artist").map(p => lower(col("artist_name")).startsWith(p.toLowerCase)),
      arg("--title").map(p => lower(col("title")).startsWith(p.toLowerCase))
    ).flatten.foldLeft(golden0)(_.filter(_))

    val export = GenerateDataset.read(spark, exportDir)
    val queries = GoldenCsv.toQueries(golden)
    val matches = MatchOps.matchSongs(queries, export)

    println("== accuracy ==")
    MatchOps.accuracy(GoldenCsv.toExpectations(golden), matches).show(false)
    if (args.contains("--diff")) {
      println("== wrong / missing ==")
      MatchOps.diffReport(GoldenCsv.toDbExpectations(golden), matches)
        .orderBy(col("query_id")).show(1000, false)
    }
    if (args.contains("--explain")) {
      // driver-side loop by design: --explain is the single-case debugger,
      // run against a prefix filter that narrows to a handful of queries
      queries.select(col("query_id")).collect().map(_.getLong(0)).foreach { qid =>
        println(s"== candidates for query $qid ==")
        MatchOps.explainQuery(queries, export, qid).show(100, false)
      }
    }
    spark.stop()
  }
}
