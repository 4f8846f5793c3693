package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import org.locationtech.jts.geom.Geometry

import graft.functions.GeomOps
import graft.sources.Mapsforge
import graft.sources.Mapsforge.{Poi, Way}

/** End-to-end map2db pipeline on Spark (SURVEY.md §2c).
  *
  * Mirrors the reference's per-tile feature handling
  * (map2db.py:815-1077) and cross-tile/level merge (747-812). The
  * reference reads each tile once and handles its POIs and ways in the
  * same serial walk; [[build]] keeps that shape as ONE plan for all
  * three feature tables:
  *
  *  1. decode: executors decode their tiles (Mapsforge.decodeTiles,
  *     no shuffle) and hand the Poi/Way objects straight on;
  *  2. clip: per row, [[poiFeature]] / [[wayFeature]] build the
  *     geometry, make areas valid, clip it to the row's tile box on the
  *     microdegree grid and drop empties — row-local, and the decoded
  *     tiles are never encoded as rows. The clip is
  *     [[GeomOps.clipToBox]]: the exact [[graft.functions.TileClip]]
  *     kernel where it can certify its answer, else an `OverlayNG`
  *     overlay under a fixed 1e-6 `PrecisionModel`;
  *  3. merge: the fragments form one relation tagged by table, hash
  *     exchanged on (table, fid) and sorted within each partition; one
  *     row-local walk then emits a row per feature: its max-level
  *     fragments' union ([[GeomOps.unionAll]]: the exact
  *     [[graft.functions.TileUnion]] kernel where it can certify its
  *     answer, else JTS's classic overlay), its zoom range extended to
  *     the min level seen, and for line rows the reference's two-pass
  *     endpoint-snap linemerge;
  *  4. split: the merged relation is persisted once and its vtag keys
  *     collected once; points, lines and areas are filters of it, the
  *     parquet sink reads it whole in one pass that routes each row to
  *     its table's writer, and the SQLite sink in one (table, fid)
  *     ordered pass.
  *
  * The reference walks tiles serially and mutates sqlite row-by-row;
  * here every stage is partition-parallel and the only data movement
  * is the one fid shuffle. [[pointFeatures]], [[lineFeatures]],
  * [[areaFeatures]] and [[mergeFeatures]] expose the same clip and
  * merge per table over a scanned Dataset.
  */
object MapPipeline {

  case class Feature(fid: Long, level: Int, minz: Int, maxz: Int,
      layer: Int, tags: String, vtags: Map[String, String],
      wkb: Array[Byte])

  /** The feature tables, in output order, with their id columns; a
    * fragment's `table` column is its index here. */
  val FeatureTables: Seq[(String, String)] =
    Seq("points" -> "m2db_pnum", "lines" -> "m2db_lnum", "areas" -> "m2db_anum")
  private val PointT = 0
  private val LineT = 1
  private val AreaT = 2

  private def jsonArray(tags: Seq[String]): String =
    tags.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"")
      + "\"").mkString("[", ", ", "]")

  private[graft] def tileBox(level: Int, tileX: Long, tileY: Long)
      : (Double, Double, Double, Double) = {
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    (r6(Mapsforge.lonFromX(level, tileX)),
      r6(Mapsforge.latFromY(level, tileY + 1)),
      r6(Mapsforge.lonFromX(level, tileX + 1)),
      r6(Mapsforge.latFromY(level, tileY)))
  }

  /** The table a way's fragment belongs to: areas are the
    * MULTIPOLYGON ways, lines the rest. */
  private def wayTable(w: Way): Int =
    if (w.geomType == "MULTIPOLYGON") AreaT else LineT

  /** A way's dbl feature id: anum for areas, lnum for lines. */
  private def wayId(w: Way): Option[Long] =
    if (wayTable(w) == AreaT) w.anum else w.lnum

  /** The geometry a POI clips. */
  private[graft] def poiGeometry(p: Poi): Geometry =
    GeomOps.multiPoint(Seq((p.lon, p.lat)))

  /** The geometry a way clips: a line (map2db.py:888-966), or an area
    * built as shell+holes per data block and made valid first
    * (967-1003); None when no valid area is left. */
  private[graft] def wayGeometry(w: Way): Option[Geometry] =
    if (wayTable(w) == AreaT) {
      val raw = GeomOps.multiPolygon(w.coords.map { dblock =>
        GeomOps.polygon(dblock.head.map(c => (c.lon, c.lat)),
          dblock.tail.map(_.map(c => (c.lon, c.lat))))
      })
      if (raw.isValid) Some(raw) else GeomOps.makeValidPolygonal(raw)
    } else Some(GeomOps.multiLineString(
      w.coords.flatten.map(_.map(c => (c.lon, c.lat)))))

  /** One POI clipped to its tile box (map2db.py:837-886); None when
    * the point lies in the tile's edge buffer. `fid` is the dbl pnum,
    * 0 on a map without one. */
  private def poiFeature(p: Poi): Option[Feature] = {
    val (minx, miny, maxx, maxy) = tileBox(p.level, p.tileX, p.tileY)
    val clipped = GeomOps.clipToBox(poiGeometry(p), minx, miny, maxx, maxy)
    if (clipped.isEmpty) None
    else Some(Feature(p.pnum.getOrElse(0L), p.level, p.minz, p.maxz,
      p.layer, jsonArray(p.tags), p.vtags,
      GeomOps.toWkb(GeomOps.normalized(clipped))))
  }

  /** One way clipped to its tile box (map2db.py:888-1072). None when
    * nothing linear / polygonal is left. `fid` is the dbl lnum / anum,
    * 0 on a map without one. */
  private def wayFeature(w: Way): Option[Feature] = {
    val (minx, miny, maxx, maxy) = tileBox(w.level, w.tileX, w.tileY)
    val keep: Geometry => Option[Geometry] =
      if (wayTable(w) == AreaT) GeomOps.keepPolygonal else GeomOps.keepLinear
    wayGeometry(w).map(GeomOps.clipToBox(_, minx, miny, maxx, maxy))
      .filter(!_.isEmpty).flatMap(keep)
      .map(g => Feature(wayId(w).getOrElse(0L), w.level, w.minz, w.maxz,
        w.layer, jsonArray(w.tags), w.vtags,
        GeomOps.toWkb(GeomOps.normalized(g))))
  }

  /** POIs → point features of the dbl points table. Row-local. */
  def pointFeatures(pois: Dataset[Poi]): Dataset[Feature] = {
    import pois.sparkSession.implicits._
    pois.flatMap(p => if (p.pnum.isDefined) poiFeature(p) else None)
  }

  /** Ways → line features of the dbl lines table. Row-local. */
  def lineFeatures(ways: Dataset[Way]): Dataset[Feature] = {
    import ways.sparkSession.implicits._
    ways.flatMap(w =>
      if (wayTable(w) == LineT && wayId(w).isDefined) wayFeature(w) else None)
  }

  /** Ways → area features of the dbl areas table. Row-local. */
  def areaFeatures(ways: Dataset[Way]): Dataset[Feature] = {
    import ways.sparkSession.implicits._
    ways.flatMap(w =>
      if (wayTable(w) == AreaT && wayId(w).isDefined) wayFeature(w) else None)
  }

  /** decode → clip for every tile of `path`: one relation of all three
    * tables' fragments, `table` followed by [[Feature]]'s columns. With
    * `dbl`, rows without their feature id are dropped, as the per-table
    * functions above drop them. */
  private[graft] def fragments(spark: SparkSession, path: String, dbl: Boolean)
      : (DataFrame, LongAccumulator) = {
    import spark.implicits._
    val (tiles, decoded) =
      Mapsforge.decodeTiles(spark, Seq(path), 0, permissive = false)
    val frags = tiles.flatMap { case (pois, ways) =>
      pois.iterator.filter(p => !dbl || p.pnum.isDefined)
        .flatMap(p => poiFeature(p).map(PointT -> _)) ++
        ways.iterator.filter(w => !dbl || wayId(w).isDefined)
          .flatMap(w => wayFeature(w).map(wayTable(w) -> _))
    }
    (spark.createDataset(frags).select(col("_1").as("table"), col("_2.*")),
      decoded)
  }

  /** The integrity invariants the reference enforces row-by-row as it
    * merges (map2db.py:766-812), checked distributed in one pass:
    *
    *  - `same_level_attr`: duplicates of a feature at one level must
    *    agree on every column except geometry (767-776);
    *  - `cross_level_attr`: duplicates across levels must agree on
    *    everything except geometry/level/zoom range (787-793);
    *  - `zoom_gap`: a feature extending into a lower subfile must
    *    have contiguous zoom coverage — the stored minz equals the
    *    lower subfile's maxzoom + 1 (797-803).
    *
    * Returns (fid, kind) violation rows; empty for a well-formed dbl
    * map. Runs on the pre-merge fragments so the checks see exactly
    * what the reference's serial loop saw. */
  def validate(feats: Dataset[Feature]): DataFrame =
    validateBy(feats.toDF(), Seq("fid"))

  /** [[validate]] with features identified by the `keys` columns;
    * returns the keys and the violation kind. */
  private def validateBy(feats: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val norm = feats.withColumn("vt",
      array_sort(transform(map_entries(col("vtags")),
        e => concat(e("key"), lit("="), e("value")))))
    val sameLevel = norm.groupBy(k :+ col("level"): _*)
      .agg(countDistinct(struct(col("layer"), col("tags"), col("vt"),
        col("minz"), col("maxz"))).as("variants"),
        first(struct(col("layer"), col("tags"), col("vt"))).as("attrs"),
        min(col("minz")).as("minz"), max(col("maxz")).as("maxz"))
    val sameLevelBad = sameLevel.filter(col("variants") > 1)
      .select(k :+ lit("same_level_attr").as("kind"): _*)
    // drift BETWEEN levels: compare one canonical attr tuple per level
    // (same-level disagreement is already its own violation above)
    val crossBad = sameLevel.groupBy(k: _*)
      .agg(countDistinct(col("attrs")).as("variants"))
      .filter(col("variants") > 1)
      .select(k :+ lit("cross_level_attr").as("kind"): _*)
    val w = Window.partitionBy(k: _*).orderBy(col("level"))
    val gapBad = sameLevel
      .withColumn("prev_maxz", lag(col("maxz"), 1).over(w))
      .filter(col("prev_maxz").isNotNull &&
        col("minz") =!= col("prev_maxz") + 1)
      .select(k :+ lit("zoom_gap").as("kind"): _*)
    sameLevelBad.unionByName(crossBad).unionByName(gapBad)
  }

  /** Cross-tile + cross-level merge (map2db.py:747-812): geometry is
    * the union of the max-level fragments; m2db_minz extends to the
    * lowest level seen; attributes come from the max level. One fid
    * exchange and one sorted walk. */
  def mergeFeatures(feats: Dataset[Feature]): DataFrame =
    mergeBy(feats.toDF(), Seq("fid"), _ => false)

  /** [[mergeFeatures]] with features identified by the `keys` columns.
    * One exchange hash-partitioned on the keys; each partition sorted by
    * the keys, max level first; then a row-local walk emits one row per
    * feature, holding only that feature's fragments (see [[walk]]). The
    * keys keep their input nullability, the other columns are nullable.
    * Rows for which `stitch` holds get the reference's endpoint-snap
    * linemerge on their unioned geometry. */
  private def mergeBy(feats: DataFrame, keys: Seq[String],
      stitch: Row => Boolean): DataFrame = {
    val k = keys.map(col)
    val out = StructType(keys.map(feats.schema(_)) ++ Seq(
      StructField("m2db_level", IntegerType),
      StructField("m2db_minz", IntegerType),
      StructField("m2db_maxz", IntegerType),
      StructField("m2db_layer_num", IntegerType),
      StructField("m2db_tags", StringType),
      StructField("vtags", feats.schema("vtags").dataType),
      StructField("m2db_geometry", BinaryType)))
    val nk = keys.size
    feats.select(k ++ Seq("level", "minz", "maxz", "layer", "tags", "vtags",
      "wkb").map(col): _*)
      .repartition(k: _*)
      .sortWithinPartitions(k :+ col("level").desc: _*)
      .mapPartitions(walk(_, nk, stitch))(Encoders.row(out))
  }

  /** One merged row per feature of `rows`: the keys (the first `nk`
    * columns, by which `rows` arrive grouped, max level first), the max
    * level, the min `minz`, the first max-level fragment's maxz, layer,
    * tags and vtags, and the union of the max-level fragments. A single
    * fragment keeps its bytes, which the clip wrote normalized. */
  private def walk(rows: Iterator[Row], nk: Int, stitch: Row => Boolean)
      : Iterator[Row] = {
    val in = rows.buffered
    def same(r: Row, head: Row): Boolean =
      (0 until nk).forall(i => r.get(i) == head.get(i))
    new Iterator[Row] {
      def hasNext: Boolean = in.hasNext
      def next(): Row = {
        val head = in.next()
        val level = head.getInt(nk)
        var minz = head.getInt(nk + 1)
        val wkbs = mutable.ArrayBuffer(head.getAs[Array[Byte]](nk + 6))
        while (in.hasNext && same(in.head, head)) {
          val r = in.next()
          if (r.getInt(nk) == level) wkbs += r.getAs[Array[Byte]](nk + 6)
          minz = math.min(minz, r.getInt(nk + 1))
        }
        Row.fromSeq((0 until nk).map(head.get) ++ Seq(level, minz,
          head.get(nk + 2), head.get(nk + 3), head.get(nk + 4),
          head.get(nk + 5), merged(wkbs, stitch(head))))
      }
    }
  }

  /** The merged geometry of one feature's max-level fragments. */
  private def merged(wkbs: mutable.ArrayBuffer[Array[Byte]], line: Boolean)
      : Array[Byte] =
    if (wkbs.size == 1 && !line) wkbs.head
    else {
      val g =
        if (wkbs.size == 1) GeomOps.fromWkb(wkbs.head)
        else GeomOps.normalized(GeomOps.unionAll(
          wkbs.iterator.map(GeomOps.fromWkb).toSeq))
      val m = if (line) GeomOps.mergeLineFeature(g) else g
      if ((m eq g) && wkbs.size == 1) wkbs.head else GeomOps.toWkb(m)
    }

  /** A build's three feature tables, over the one relation it
    * persisted. `merged` holds `table` (an index of [[FeatureTables]]),
    * `fid`, the m2db columns and `vtags`; `keys(t)` are the sorted vtag
    * keys that table `t`'s rows carry. Each table gets one column per
    * key, as the reference ALTER TABLEs them in (map2db.py:856-871):
    * [[points]], [[lines]] and [[areas]] are filters of `merged` that
    * project those columns ([[columns]]), while the sinks read `merged`
    * itself in one pass each. `release()` drops the persisted relation; call
    * it after the last action on the tables. `decodedTiles()` reads the
    * executor-side decode counter — a decode-once pipeline keeps it at
    * the file's non-empty tile count (pinned by MapsforgeSpec). */
  final case class MapTables(merged: DataFrame, keys: Seq[Seq[String]],
      decoded: LongAccumulator) {
    /** Table `t`'s columns over a row of `merged`: `fid` as the table's
      * id column, the m2db columns in `merged`'s order, then `vtags[k]`
      * for each key. */
    private[graft] def columns(t: Int): Seq[Column] =
      merged.columns.toSeq.flatMap {
        case "table" | "vtags" => Nil
        case "fid" => Seq(col("fid").as(FeatureTables(t)._2))
        case c => Seq(col(c))
      } ++ keys(t).map(k => col("vtags").getItem(k).as(k))
    private def table(t: Int): DataFrame =
      merged.filter(col("table") === t).select(columns(t): _*)
    val points: DataFrame = table(PointT)
    val lines: DataFrame = table(LineT)
    val areas: DataFrame = table(AreaT)
    def vtagKeys: Seq[String] = keys.flatten.distinct.sorted
    def release(): Unit = { merged.unpersist(); () }
    def decodedTiles(): Long = decoded.value
  }

  /** Wraps a persisted relation of `table`, `fid`, the m2db columns and
    * `vtags` as [[MapTables]], collecting each table's vtag keys. The
    * collect is the first action on `merged`: it fills the cache, so
    * decode, clip and merge run once, and the sinks read cached rows.
    * Each partition returns its set of (table, key) pairs and the
    * driver unions them, so the collect adds no exchange. The key
    * universe is the (small) tag dictionary, so the collect is
    * driver-safe. */
  private def split(merged: DataFrame, decoded: LongAccumulator): MapTables = {
    import merged.sparkSession.implicits._
    val keys = merged.select(col("table"), map_keys(col("vtags")))
      .as[(Int, Seq[String])]
      .mapPartitions(_.flatMap { case (t, ks) => ks.map(t -> _) }
        .toSet.iterator)
      .collect().distinct.toSeq
    MapTables(merged,
      FeatureTables.indices.map(t => keys.collect { case (`t`, k) => k }.sorted),
      decoded)
  }

  /** Non-dbl path (map2db.py:878-885,958-964,1064-1070): no feature
    * ids exist, so every tile fragment becomes its own row — clipped
    * (TRIM_NONUM) but never merged — with a synthetic unique id.
    * The reference numbers rows sequentially in its serial tile walk;
    * a parallel scan has no meaningful order, so ids are unique, not
    * dense (documented divergence). Persisting freezes the
    * monotonically_increasing_id values between the key collect and
    * the sink. */
  def buildRaw(spark: SparkSession, path: String): MapTables = {
    val (frags, decoded) = fragments(spark, path, dbl = false)
    split(frags.withColumn("fid", monotonically_increasing_id())
      .withColumnsRenamed(Map("level" -> "m2db_level",
        "minz" -> "m2db_minz", "maxz" -> "m2db_maxz",
        "layer" -> "m2db_layer_num", "tags" -> "m2db_tags",
        "wkb" -> "m2db_geometry"))
      .persist(), decoded)
  }

  /** Full decode→merge for a dbl map, all three tables in one plan.
    * Lines additionally get the endpoint-snap linemerge pass
    * (map2db.py:1080-1182). With `strict`, the reference's integrity
    * checks run first, over all three tables in one check, and any
    * violation aborts, as the reference's ValueError would — off by
    * default because at 100 TB a report table beats a crashed job.
    * A strict build persists the fragments until the merge has read
    * them, so the tiles still decode once. */
  def build(spark: SparkSession, path: String,
      strict: Boolean = false): MapTables = {
    val (clipped, decoded) = fragments(spark, path, dbl = true)
    val frags = if (strict) clipped.persist() else clipped
    if (strict) {
      // p/l/a ids are independent key spaces: key on (table, fid)
      val bad = validateBy(frags, Seq("table", "fid")).limit(10).collect()
      if (bad.nonEmpty) frags.unpersist()
      require(bad.isEmpty, "integrity violations: " +
        bad.map(r => s"${FeatureTables(r.getInt(0))._1} " +
          s"${r.getLong(1)}:${r.getString(2)}").mkString(", "))
    }
    val merged = mergeBy(frags, Seq("table", "fid"), _.getInt(0) == LineT)
      .persist()
    val tables = split(merged, decoded)
    if (strict) frags.unpersist()
    tables
  }
}
