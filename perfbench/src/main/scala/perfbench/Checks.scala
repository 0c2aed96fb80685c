package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._

import graft.musicbrainz.GenerateDataset

/** Order-independent output checks. Hash sums are decimal so that the sum
  * of 64-bit row hashes cannot overflow under ANSI arithmetic. */
object Checks {

  private def hashSum(cols: Column*): Column =
    sum(xxhash64(cols: _*).cast("decimal(38,0)"))

  /** (row count, Σ xxhash64 over all columns) of one table. */
  def countAndHash(df: DataFrame): (Long, BigInt) = {
    // columns in name order, so the hash does not depend on column order
    val r = df.agg(count(lit(1)), hashSum(df.columns.sorted.map(col).toIndexedSeq: _*)).head()
    val h = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), h)
  }

  /** [[countAndHash]] of rows held on the driver, computed without Spark:
    * the same xxhash64 (seed 42, null columns skipped) over the columns in
    * name order. */
  def countAndHash(schema: StructType, rows: Seq[Row]): (Long, BigInt) = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val sum = rows.iterator.map { r =>
      BigInt(cols.foldLeft(42L) { case (h, (f, i)) =>
        if (r.isNullAt(i)) h
        else {
          val v = r.get(i) match {
            case s: String => UTF8String.fromString(s)
            case other => other
          }
          XxHash64Function.hash(v, f.dataType, h)
        }
      })
    }.foldLeft(BigInt(0))(_ + _)
    (rows.size.toLong, sum)
  }

  /** The five export tables by name. */
  def tables(e: GenerateDataset.Export): Map[String, DataFrame] = Map(
    "mb_artist" -> e.mbArtist, "mb_album" -> e.mbAlbum, "mb_song" -> e.mbSong,
    "mb_artist_alias" -> e.mbArtistAlias, "mb_song_alias" -> e.mbSongAlias)
}
