package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-level / cross-tile feature merge (SURVEY.md §2c).
  *
  * map2db resolves each incoming feature against the database
  * row-at-a-time (map2db.py:747-812): a feature present at several
  * zoom levels keeps the highest-level (least simplified) version and
  * extends its zoom range downward; fragments of a feature from
  * several tiles at one level union their geometries.
  *
  * `MapPipeline`'s merge walk does both in one sorted pass per feature
  * over one fid exchange; this object keeps the level dedup as a
  * `groupBy(fid)` aggregate and the reference's line stitching as a
  * row-local column. No driver-side loop.
  */
object FeatureMerge {

  /** Keep the max-level row per feature; `minz` extends to the
    * minimum seen across levels (map2db.py:785-809). Expects columns
    * `lvl`, `minz`, `maxz` alongside the feature id. */
  def dedupLevels(feats: DataFrame, fidCol: String): DataFrame =
    feats.groupBy(col(fidCol))
      .agg(
        max(col("lvl")).as("level"),
        min(col("minz")).as("minz"),
        max_by(col("maxz"), col("lvl")).as("maxz"),
        count(lit(1)).as("n_frag"))

  /** The reference's post-union line stitching pass
    * (map2db.py:1080-1182): linemerge each feature's multi-part
    * geometry, snapping near-coincident endpoints (2.1 µdeg) before a
    * second merge. Row-local (it runs on rows already merged per
    * feature), so it pipelines with no extra shuffle. */
  def mergeLines(feats: DataFrame, wkbCol: String): DataFrame =
    feats.withColumn(wkbCol, mergedLine(col(wkbCol)))

  /** [[mergeLines]] as a column: the stitched WKB of `wkb`. */
  def mergedLine(wkb: Column): Column = mergeUdf(wkb)

  private val mergeUdf = udf { (wkb: Array[Byte]) =>
    if (wkb == null || wkb.isEmpty) wkb
    else graft.functions.GeomOps.toWkb(
      graft.functions.GeomOps.mergeLineFeature(
        graft.functions.GeomOps.fromWkb(wkb)))
  }
}
