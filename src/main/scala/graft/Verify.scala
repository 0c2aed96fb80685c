package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.BenchUtil.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // a tab or CR in a query's SQL must not break the reader's json.load
    def q(s: String): String = "\"" + graft.tools.BenchUtil.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // oracle-free-by-design manifest: reason + declared schema per query,
    // so the correctness reader can check rows AND schema and waive only
    // the value hash — a missing-oracle row should never read as "broken"
    val rob = SparkEntry.rowsOnlyByDesign.map { case (name, (reason, cols)) =>
      val colsJson = cols.map { case (c, t) => s"""{"name":${q(c)},"type":${q(t)}}""" }
        .mkString("[", ",", "]")
      s"${q(name)}: {\"reason\":${q(reason)},\"columns\":$colsJson}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle_by_design.json"), rob)
    spark.stop()
  }
}
