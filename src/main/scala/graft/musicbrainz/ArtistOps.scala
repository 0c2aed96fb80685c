package graft.musicbrainz

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.normalize

/** `sql/3_artist_data.sql` + `sql/4_artist_alias_data.sql` re-expressed:
  * the exported artist table (URL-count score + country/score filter) and
  * its 4-branch alias union.
  */
object ArtistOps {

  /** → mb_artist(id, mb_id, name, country_id, score).
    * Reference `/root/reference/sql/3:1-10`: score = correlated COUNT of
    * `l_artist_url` rows — decorrelated here into one pre-aggregate + left
    * join (SURVEY J9); export filter `country_id = 'be' OR score > 8`.
    */
  def mbArtist(src: MbSources): DataFrame = {
    val urlCount = src.lArtistUrl.groupBy(col("entity0").as("uc_artist"))
      .agg(count(lit(1)).cast("int").as("score"))
    val country = CountryOps.areaCountry(src)
    src.artist
      .join(broadcast(country), col("area") === col("area_id"), "left")
      .join(urlCount, col("id") === col("uc_artist"), "left")
      .select(
        col("id"), col("gid").as("mb_id"), col("name"), col("country_id"),
        coalesce(col("score"), lit(0)).as("score"))
      .filter(col("country_id") === "be" || col("score") > 8)
  }

  /** → mb_artist_alias(artist_id, alias) — deduplicated.
    * Reference `/root/reference/sql/4:4-34`: UNION (distinct) of
    *   own name ∪ artist_alias ∪ artist_credit_name ∪ renamed-artist names
    * then normalized. The reference stores `LOWER(REGEXP_REPLACE(UNACCENT
    * (name),'\W','','g'))` but probes with the Python search_key; the engine
    * uses [[normalize.searchKey]] on BOTH sides (SURVEY §7.4.3), which also
    * nulls empty keys — those rows are dropped (non-matchable).
    * `ON CONFLICT DO NOTHING` → distinct on (artist_id, alias). That one
    * distinct, after normalizing, also subsumes the UNION's own: equal
    * (id, name) rows have equal (id, key), so the branches are unioned
    * ALL and deduplicated once (one exchange, not two). The same distinct
    * makes every lookup of an exported artist a semi join: each branch's
    * rows come from one source table, filtered to exported ids, so its
    * size estimate is that table's, not the product of the joined tables'
    * (which kept even a tiny export above the matcher's index gate).
    */
  def artistAliases(src: MbSources, mbArtist: DataFrame): DataFrame = {
    val ids = mbArtist.select(col("id").as("known_id"))
    def exported(df: DataFrame, id: String) =
      df.join(ids, col(id) === col("known_id"), "left_semi")
    // ids keep mb_artist's type in every branch of the union
    def asId(c: Column) = c.cast(mbArtist.schema("id").dataType).as("id")
    val own = mbArtist.select(col("id"), col("name"))
    val alias = exported(src.artistAlias, "artist").select(asId(col("artist")), col("name"))
    val credit = exported(src.artistCreditName, "artist").select(asId(col("artist")), col("name"))
    // l_artist_artist with link_type 103 + attribute 1094: entity0 is the
    // earlier/other name of entity1 (`sql/4:22-27`, `README.md:241`)
    val renameLinks = src.link
      .filter(col("link_type") === MbConstants.ArtistRenameLinkType)
      .join(src.linkAttribute.filter(col("attribute_type") === MbConstants.ArtistRenameAttributeType),
        src.link("id") === src.linkAttribute("link"))
      .select(src.link("id").as("rl_id"))
    val renamed = exported(src.lArtistArtist, "entity1")
      .join(broadcast(renameLinks), col("link") === col("rl_id"), "left_semi")
      .join(src.artist.select(col("id").as("a2_id"), col("name").as("a2_name")),
        col("entity0") === col("a2_id"))
      .select(asId(col("entity1")), col("a2_name").as("name"))
    Seq(own, alias, credit, renamed).reduce(_ union _)
      .select(col("id").as("artist_id"), normalize.searchKey(col("name")).as("alias"))
      .filter(col("alias").isNotNull)
      .distinct()
  }
}
