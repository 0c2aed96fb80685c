package graft.musicbrainz

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `sql/1_area_id_country_id.sql` re-expressed (SURVEY J4): map every area to
  * an ISO-3166-1 country code by climbing the area "part of" hierarchy up to
  * 3 parents and taking the first code found.
  *
  * The edge table is tiny relative to fact data (areas are a dimension), so
  * every hop is a broadcast hash join — the unrolled 3-hop chain costs no
  * shuffle at all on the probe side.
  */
object CountryOps {

  private val AsciiUpper = ('A' to 'Z').mkString

  /** → DataFrame(area_id int, country_id string-lowercase or null).
    * Reference: `/root/reference/sql/1:8-20` (`ON CONFLICT DO NOTHING` is a
    * no-op there — area_id is already unique in the SELECT; here uniqueness
    * is structural: one row per `area.id`, each join key at most one match
    * after the per-level dedup below).
    */
  def areaCountry(src: MbSources, hops: Int = 3): DataFrame = {
    // iso_3166_1 is one code per area in MusicBrainz; enforce it anyway so a
    // dirty snapshot cannot fan out the left joins (min = deterministic).
    val iso = src.iso31661.groupBy(col("area").as("iso_area"))
      .agg(min(col("code")).as("iso_code"))
    val edges = src.lAreaArea
      .filter(col("link") === MbConstants.AreaPartOfLink)
      .groupBy(col("entity1").as("child"))
      .agg(min(col("entity0")).as("parent")) // at most one "part of" parent
    var cur = src.area.select(col("id").as("area_id"))
      .join(broadcast(iso), col("area_id") === col("iso_area"), "left")
      .withColumnRenamed("iso_code", "c0").drop("iso_area")
    var prev = col("area_id")
    for (i <- 1 to hops) {
      val e = edges.select(col("child").as(s"ch$i"), col("parent").as(s"pa$i"))
      val a = iso.select(col("iso_area").as(s"ia$i"), col("iso_code").as(s"c$i"))
      cur = cur
        .join(broadcast(e), prev === col(s"ch$i"), "left")
        .join(broadcast(a), col(s"pa$i") === col(s"ia$i"), "left")
        .drop(s"ch$i", s"ia$i")
      prev = col(s"pa$i")
    }
    val code = coalesce((0 to hops).map(i => col(s"c$i")): _*)
    // ISO 3166-1 codes are ASCII: `translate` lowers them byte-wise, where
    // `lower` would take Spark's ICU path (and its one-off initializer)
    cur.select(col("area_id"), translate(code, AsciiUpper, AsciiUpper.toLowerCase).as("country_id"))
  }
}
