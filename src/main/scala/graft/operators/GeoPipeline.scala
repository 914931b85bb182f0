package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.geo

/** The end-to-end geo pipeline (BASELINE.json north_star):
  * pages → geoparse (`geoparse_mentions`, a static call of
  * `Geoparse.parse`) → cell encode (codegen'd S2/hex exprs) → per-cell
  * PIP tag → features table.
  *
  * Structure mirrors the reference's staged main (reference:
  * mvt/run_mvt_espre.py:103-423): parse → frame transform → grid assign →
  * broadcast-normalize join → grouped aggregation, with per-stage metrics.
  */
object GeoPipeline {
  /** pages(url, text, …) → mentions(url, lat, lon, kind, name) via ONE
    * codegen'd expression pass (geoparse_mentions) — the production path.
    */
  def pagesToMentions(pages: DataFrame): DataFrame = {
    import graft.functions.geoparse.geoparse_mentions
    pages.select(col("url"), explode(geoparse_mentions(col("text"))).as("m"))
      .select(col("url"), col("m.lat").as("lat"), col("m.lon").as("lon"),
        col("m.kind").as("kind"), col("m.name").as("name"))
  }

  /** Full feature derivation: mentions + cell ids + admin PIP tags.
    * Columns: url, lat, lon, kind, name, s2_cell (level 16), hex_cell
    * (res 8), tile_z12, admin_id, admin_name.
    */
  def pagesToFeatures(spark: SparkSession, pages: DataFrame,
                      s2Level: Int = 16, hexRes: Int = 8): DataFrame = {
    val mentions = pagesToMentions(pages)
      .withColumn("s2_cell", geo.s2_cell(col("lat"), col("lon"), lit(s2Level)))
      .withColumn("hex_cell", geo.hex_cell(col("lon"), col("lat"), lit(hexRes)))
      .withColumn("tile_z12", geo.tile_id(col("lon"), col("lat"), lit(12)))
    // zero-shuffle left PIP: per-row cell candidate lookup +
    // explode_outer — no window, no unique-key requirement, the mention
    // stream never exchanges before tiling (one shuffle in the whole
    // pipeline: the tiler's groupBy tile)
    SpatialJoin.pipJoinLeftRtree(mentions, level = Some(2))
  }
}
