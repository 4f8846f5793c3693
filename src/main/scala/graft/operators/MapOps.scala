package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}
import graft.functions.Tiles
import graft.functions.varint._

/** MapsForge-domain operators re-expressed over the test tables
  * (SURVEY.md §2b/§2c). The binary/tile/delta/tag machinery the
  * reference applies per-tile is exercised here as declarative plans
  * over the driver tables so the DuckDB oracle can hash-check them;
  * the same Columns/Expressions are what the Mapsforge source uses.
  *
  * Oracle discipline for the codec ops: Spark computes
  * decode(encode(x)) through the real Catalyst expressions; the
  * oracle states the identity the roundtrip must land on.
  */
object MapOps {

  /** g01: ULEB128/SLEB128 roundtrip + encoded byte length per the
    * 7-bit-group spec. Codegen'd expressions in the scan's hot loop. */
  def g01VarintRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("key")).distinct()
    keys.select(col("key"),
        uleb_decode(uleb_encode(col("key"))).as("decoded_u"),
        sleb_decode(sleb_encode(col("key") - 30000)).as("decoded_s"),
        length(uleb_encode(col("key"))).cast("int").as("nbytes_u"))
      .orderBy(col("key"))
  }

  val g01Sql: String =
    """SELECT key, key AS decoded_u, key - 30000 AS decoded_s,
      |  CASE WHEN key < 128 THEN 1 WHEN key < 16384 THEN 2
      |       WHEN key < 2097152 THEN 3 WHEN key < 268435456 THEN 4
      |       ELSE 5 END AS nbytes_u
      |FROM (SELECT DISTINCT l_orderkey AS key FROM lineitem)
      |ORDER BY key""".stripMargin

  /** Deterministic synthetic coordinates derived from event ids —
    * exact in both engines (integer modulus then one fp division). */
  private def withCoords(df: DataFrame): DataFrame = df
    .withColumn("z", (col("event_id") % 10 + 8).cast("double"))
    .withColumn("lon", (col("event_id") * 7919 % 3500000) / 10000.0 - 175.0)
    .withColumn("lat", (col("event_id") * 104729 % 1600000) / 10000.0 - 80.0)

  private val coordsSql =
    """SELECT event_id,
      |  CAST(event_id % 10 + 8 AS DOUBLE) AS z,
      |  (event_id * 7919 % 3500000) / 10000.0 - 175.0 AS lon,
      |  (event_id * 104729 % 1600000) / 10000.0 - 80.0 AS lat
      |FROM events""".stripMargin

  /** g02: tile transforms — lat/lon → integer tile (x,y) at zoom z,
    * then the inverse transform for the tile's NW corner. */
  def g02TileTransforms(spark: SparkSession, dir: String): DataFrame = {
    val c = withCoords(Tables.load(spark, dir, "events"))
    c.select(col("event_id"), col("z"),
        floor(Tiles.tileXFromLon(col("z"), col("lon"))).as("tile_x"),
        floor(Tiles.tileYFromLat(col("z"), col("lat"))).as("tile_y"))
      // + 0.0 collapses IEEE -0.0 to +0.0 (and is exact elsewhere):
      // the engines disagree on the sign of a rounded-to-zero result,
      // which a bitwise hash compare distinguishes even though -0.0
      // equals 0.0.
      .select(col("event_id"), col("tile_x"), col("tile_y"),
        (round(Tiles.lonFromTileX(col("z"), col("tile_x").cast("double")), 3)
          + lit(0.0)).as("nw_lon"),
        (round(Tiles.latFromTileY(col("z"), col("tile_y").cast("double")), 3)
          + lit(0.0)).as("nw_lat"))
      .orderBy(col("event_id"))
  }

  val g02Sql: String =
    s"""SELECT event_id, tile_x, tile_y,
       |  ROUND((tile_x / POW(2.0, z) * 2.0 - 1.0) * 180.0, 3) + 0.0 AS nw_lon,
       |  ROUND((ATAN(EXP(((POW(2.0, z) - tile_y) / POW(2.0, z - 1) - 1.0) * PI())) / PI() - 0.25) * 360.0, 3) + 0.0 AS nw_lat
       |FROM (
       |  SELECT event_id, z,
       |    CAST(FLOOR(POW(2.0, z - 1) * (lon / 180.0 + 1.0)) AS BIGINT)
       |      AS tile_x,
       |    CAST(FLOOR(POW(2.0, z - 1) *
       |      (2.0 - (LN(TAN((lat / 360.0 + 0.25) * PI())) / PI() + 1.0)))
       |      AS BIGINT) AS tile_y
       |  FROM ($coordsSql))
       |ORDER BY event_id""".stripMargin

  /** g03: row-major flat tile index — the engine's partition/bucket
    * key (integer-exact). */
  def g03TileNum(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.select(
        Tiles.tileNum(col("l_partkey") % 100, col("l_suppkey") % 100,
          lit(0L), lit(0L), lit(100L)).as("tile_num"))
      .groupBy(col("tile_num"))
      .agg(count(lit(1)).as("n_features"))
      .orderBy(col("tile_num"))
  }

  val g03Sql: String =
    """SELECT (l_suppkey % 100) * 100 + (l_partkey % 100) AS tile_num,
      |  COUNT(*) AS n_features
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY tile_num""".stripMargin

  /** g04: delta + double-delta coordinate decode (map2db.py:576-599)
    * as window prefix sums — the declarative form of the reference's
    * running-accumulator loop; one shuffle on the block key. */
  def g04DeltaDecode(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    // l_linenumber is not unique within an order in this data; the
    // node order must be total or the prefix sums are nondeterministic.
    val ord = Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"))
    val w = Window.partitionBy(col("l_orderkey")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deltas = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
      (col("l_quantity").cast("long") - 25).as("d_lat"),
      (col("l_partkey") % 100 - 50).as("d_lon"))
    deltas
      .withColumn("lat_md", lit(1000000L) + sum(col("d_lat")).over(w))
      .withColumn("cum1", sum(col("d_lon")).over(w))
      .withColumn("lon_md", lit(2000000L) + sum(col("cum1")).over(w))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("lat_md"), col("lon_md"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
  }

  val g04Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey,
      |  CAST(1000000 + SUM(d_lat) OVER w2 AS BIGINT) AS lat_md,
      |  CAST(2000000 + SUM(cum1) OVER w2 AS BIGINT) AS lon_md
      |FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    l_extendedprice,
      |    CAST(l_quantity AS BIGINT) - 25 AS d_lat,
      |    SUM(l_partkey % 100 - 50) OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
      |      ROWS UNBOUNDED PRECEDING) AS cum1
      |  FROM lineitem)
      |WINDOW w2 AS (PARTITION BY l_orderkey
      |  ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
      |  ROWS UNBOUNDED PRECEDING)
      |ORDER BY l_orderkey, l_linenumber, l_partkey""".stripMargin

  /** g05: tag dictionary parse — "key=value" splits plus the
    * variable-tag `=%i/%f/%h/%s` type detection (map2db.py:424-451). */
  def g05TagParse(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val suffix = element_at(
      array(lit("=%i"), lit("=%f"), lit("=%h"), lit("=%s")),
      (col("p_size") % 4 + 1).cast("int"))
    part
      .withColumn("tag", concat(col("p_brand"), lit("="), col("p_type")))
      .withColumn("vt", concat(col("p_name"), suffix))
      .select(col("p_partkey"),
        element_at(split(col("tag"), "="), 1).as("tag_key"),
        element_at(split(col("tag"), "="), 2).as("tag_value"),
        expr("substring(vt, 1, length(vt) - 3)").as("vtag_key"),
        expr("right(vt, 2)").as("vtag_type"))
      .orderBy(col("p_partkey"))
  }

  val g05Sql: String =
    """SELECT p_partkey,
      |  string_split(p_brand || '=' || p_type, '=')[1] AS tag_key,
      |  string_split(p_brand || '=' || p_type, '=')[2] AS tag_value,
      |  p_name AS vtag_key,
      |  ['%i', '%f', '%h', '%s'][CAST(p_size % 4 + 1 AS INT)] AS vtag_type
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** g06: point clip to a bounding box (map2db.py:845-851) — for
    * points, clipping IS a filter, which Catalyst can push/prune;
    * at scale this is the partition-pruning fast path. */
  def g06PointClip(spark: SparkSession, dir: String): DataFrame = {
    val c = withCoords(Tables.load(spark, dir, "events"))
    c.filter(col("lon") >= -60.0 && col("lon") <= 60.0 &&
        col("lat") >= -40.0 && col("lat") <= 40.0)
      .select(col("event_id"), col("lon"), col("lat"))
      .orderBy(col("event_id"))
  }

  val g06Sql: String =
    s"""SELECT event_id, lon, lat
       |FROM ($coordsSql)
       |WHERE lon BETWEEN -60.0 AND 60.0 AND lat BETWEEN -40.0 AND 40.0
       |ORDER BY event_id""".stripMargin

  /** g07: ring-closure classification (map2db.py:600-617,634-638) —
    * a coordinate block is an area iff it is a closed ring with ≥4
    * points; computed over real Spark arrays (collect_list per block,
    * append-first-to-close for a deterministic subset). */
  def g07RingClassify(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val pts = li.select(col("l_orderkey"), col("l_linenumber"),
      (col("l_linenumber") * 7 % 13).as("x"),
      (col("l_linenumber") * 11 % 17).as("y"))
    pts.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(
        struct(col("l_linenumber"), col("x"), col("y")))).as("block"))
      .withColumn("block",
        when(col("l_orderkey") % 3 === 0,
          concat(col("block"), slice(col("block"), 1, 1)))
          .otherwise(col("block")))
      .select(col("l_orderkey"),
        size(col("block")).as("n_points"),
        (size(col("block")) >= 4 &&
          element_at(col("block"), 1).getField("x") ===
            element_at(col("block"), -1).getField("x") &&
          element_at(col("block"), 1).getField("y") ===
            element_at(col("block"), -1).getField("y")).as("is_ring"))
      .orderBy(col("l_orderkey"))
  }

  val g07Sql: String =
    """SELECT l_orderkey,
      |  CASE WHEN l_orderkey % 3 = 0 THEN cnt + 1 ELSE cnt END AS n_points,
      |  CASE WHEN l_orderkey % 3 = 0 THEN cnt + 1 >= 4
      |       ELSE cnt >= 4 AND (min_ln * 7 % 13 = max_ln * 7 % 13)
      |            AND (min_ln * 11 % 17 = max_ln * 11 % 17) END AS is_ring
      |FROM (
      |  SELECT l_orderkey, COUNT(*) AS cnt,
      |    MIN(l_linenumber) AS min_ln, MAX(l_linenumber) AS max_ln
      |  FROM lineitem GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  /** g08: cross-tile geometry union (map2db.py:776-784) — fragments
    * of one feature union into a single MultiPoint via the partial-
    * aggregable JTS union aggregate; the component count must equal
    * the distinct point count (union dedups identical points). */
  def g08GeomUnion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val pts = li.select(col("l_partkey").as("fid"),
      (col("l_quantity").cast("long") % 20).cast("double").as("x"),
      (col("l_suppkey") % 20).cast("double").as("y"))
    pts.groupBy(col("fid"))
      .agg(graft.functions.GeomFunctions
        .unionPoints(col("x"), col("y")).as("wkb"))
      .select(col("fid"),
        graft.functions.GeomFunctions.numGeometries(col("wkb"))
          .cast("long").as("n_pts"))
      .orderBy(col("fid"))
  }

  val g08Sql: String =
    """SELECT l_partkey AS fid,
      |  COUNT(DISTINCT (CAST(l_quantity AS BIGINT) % 20) * 1000
      |    + l_suppkey % 20) AS n_pts
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY fid""".stripMargin

  /** g09: zoom-level dedup (map2db.py:766-809) — the same feature
    * encoded at several levels keeps the highest-level (least
    * simplified) row while the zoom range extends down to the lowest
    * minz seen. One partial-aggregable shuffle via max_by. */
  def g09ZoomDedup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val feats = li.select(col("l_partkey").as("fid"),
      (col("l_orderkey") % 3 + 10).as("lvl"))
      .withColumn("minz", col("lvl"))
      .withColumn("maxz", col("lvl") * 3 % 7 + col("lvl"))
    FeatureMerge.dedupLevels(feats, "fid")
      .orderBy(col("fid"))
  }

  val g09Sql: String =
    """SELECT l_partkey AS fid, MAX(lvl) AS level, MIN(lvl) AS minz,
      |  ARG_MAX(lvl * 3 % 7 + lvl, lvl) AS maxz, COUNT(*) AS n_frag
      |FROM (SELECT l_partkey, l_orderkey % 3 + 10 AS lvl FROM lineitem)
      |GROUP BY l_partkey
      |ORDER BY fid""".stripMargin

  /** g10: per-tile bounding box — the reference computes per-tile
    * extents for its clip boxes (map2db.py:837-851); at scale this is
    * one hash aggregate over integer-microdegree coords. Pure integer
    * arithmetic end-to-end (µdeg derived from event ids, not from fp
    * lat/lon), so the oracle is exact. */
  def g10BboxAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(
        (col("event_id") * 7919 % 3500000 * 100 - 175000000L)
          .as("lon_md"),
        (col("event_id") * 104729 % 1600000 * 100 - 80000000L)
          .as("lat_md"))
      .select(col("lon_md"), col("lat_md"),
        floor(col("lon_md") / lit(1000000.0)).cast("long").as("tx"),
        floor(col("lat_md") / lit(1000000.0)).cast("long").as("ty"))
      .groupBy(col("tx"), col("ty"))
      .agg(min(col("lon_md")).as("min_lon"),
        max(col("lon_md")).as("max_lon"),
        min(col("lat_md")).as("min_lat"),
        max(col("lat_md")).as("max_lat"),
        count(lit(1)).as("n_points"))
      .orderBy(col("tx"), col("ty"))

  val g10Sql: String =
    """SELECT CAST(FLOOR(lon_md / 1000000.0) AS BIGINT) AS tx,
      |  CAST(FLOOR(lat_md / 1000000.0) AS BIGINT) AS ty,
      |  MIN(lon_md) AS min_lon, MAX(lon_md) AS max_lon,
      |  MIN(lat_md) AS min_lat, MAX(lat_md) AS max_lat,
      |  COUNT(*) AS n_points
      |FROM (
      |  SELECT event_id * 7919 % 3500000 * 100 - 175000000 AS lon_md,
      |    event_id * 104729 % 1600000 * 100 - 80000000 AS lat_md
      |  FROM events)
      |GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin

  /** g11: polyline length — way coords become (x,y) vertices ordered
    * within each way; one window sort per way computes segment
    * deltas, and the fp segment lengths are rounded then summed as
    * DECIMAL so the total is order-independent (the reference walks
    * vertices serially; this is the distributed equivalent). */
  def g11PolylineLength(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    // (orderkey, linenumber) is NOT unique in the testdata; ordering
    // by the coords as tiebreak makes the vertex sequence total (rows
    // that still tie have identical coords, so their order can't
    // change any segment).
    val w = W.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("x"), col("y"))
    val seg = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 1000).as("x"), (col("l_suppkey") % 1000).as("y"))
      .withColumn("dx", col("x") - lag(col("x"), 1).over(w))
      .withColumn("dy", col("y") - lag(col("y"), 1).over(w))
      .withColumn("seg", round(
        sqrt((col("dx") * col("dx") + col("dy") * col("dy"))
          .cast("double")), 6))
    seg.groupBy(col("l_orderkey"))
      .agg(count(col("seg")).as("n_segments"),
        sum(col("seg").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("length"))
      .orderBy(col("l_orderkey"))
  }

  val g11Sql: String =
    """WITH v AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_partkey % 1000 AS x, l_suppkey % 1000 AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT l_orderkey,
      |    ROUND(SQRT(CAST(
      |      (x - lag(x) OVER w) * (x - lag(x) OVER w) +
      |      (y - lag(y) OVER w) * (y - lag(y) OVER w) AS DOUBLE)), 6)
      |      AS seg
      |  FROM v WINDOW w AS (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, x, y))
      |SELECT l_orderkey, COUNT(seg) AS n_segments,
      |  CAST(SUM(CAST(seg AS DECIMAL(18,6))) AS DOUBLE) AS length
      |FROM s GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** g15: polygon AREA via the shoelace formula — g11's sibling for
    * the closed-ring features map2db classifies (ring-closure → area
    * vs line, map2db.py 815-1077). The synthetic ring is g11's
    * vertex relation closed cyclically: the wraparound successor is
    * `coalesce(lead, first_value)` in the same window, and every
    * cross term stays BIGINT (coords < 1000 ⇒ |term| ≤ 2e6), so the
    * doubled signed area is integer-exact on any engine; one key
    * shuffle, window partitions bounded by vertices-per-ring. */
  def g15PolygonArea(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("x"), col("y"))
    val wAll = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cross = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 1000).as("x"), (col("l_suppkey") % 1000).as("y"))
      .withColumn("nx",
        coalesce(lead(col("x"), 1).over(w), first(col("x")).over(wAll)))
      .withColumn("ny",
        coalesce(lead(col("y"), 1).over(w), first(col("y")).over(wAll)))
      .withColumn("cross", col("x") * col("ny") - col("nx") * col("y"))
    cross.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_vertices"),
        abs(sum(col("cross"))).as("area2"))
      .select(col("l_orderkey"), col("n_vertices"), col("area2"),
        (col("area2").cast("double") / 2.0).as("area"))
      .orderBy(col("l_orderkey"))
  }

  val g15Sql: String =
    """WITH v AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_partkey % 1000 AS x, l_suppkey % 1000 AS y
      |  FROM lineitem),
      |c AS (
      |  SELECT l_orderkey,
      |    x * COALESCE(lead(y) OVER w, first_value(y) OVER
      |        (PARTITION BY l_orderkey ORDER BY l_linenumber, x, y
      |         ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND UNBOUNDED FOLLOWING))
      |      - COALESCE(lead(x) OVER w, first_value(x) OVER
      |        (PARTITION BY l_orderkey ORDER BY l_linenumber, x, y
      |         ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND UNBOUNDED FOLLOWING)) * y
      |      AS cr
      |  FROM v WINDOW w AS (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, x, y))
      |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_vertices,
      |  CAST(ABS(SUM(cr)) AS BIGINT) AS area2,
      |  CAST(ABS(SUM(cr)) AS DOUBLE) / 2.0 AS area
      |FROM c GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** g12: tile adjacency degree — cross-tile feature stitching
    * (map2db.py:1080-1182 merges line fragments across tile borders)
    * starts from "which neighbor tiles exist"; an 8-offset explode +
    * self-join on the tile grid, all integer keys. */
  def g12TileNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val tiles = Tables.load(spark, dir, "events")
      .select(
        floor((col("event_id") * 7919 % 3500000 * 100 - 175000000L)
          / lit(1000000.0)).cast("long").as("tx"),
        floor((col("event_id") * 104729 % 1600000 * 100 - 80000000L)
          / lit(1000000.0)).cast("long").as("ty"))
      .distinct()
    // include the (0,0) offset: every tile matches itself, so
    // isolated tiles survive the inner join with count 1 and the
    // zero-fill left-join back onto the tile set (a third scan +
    // two more exchanges) disappears; n_neighbors = matches - 1.
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val cand = tiles
      .select(col("tx"), col("ty"), explode(offsets).as("o"))
      .select(col("tx"), col("ty"),
        (col("tx") + col("o.dx")).as("nx"), (col("ty") + col("o.dy")).as("ny"))
    // the tile set scales with map coverage (a z14 planet is ~2^28
    // tiles) and is aggregate-derived (statless): pin the shuffled
    // build so Catalyst can't broadcast it
    val present = tiles.select(col("tx").as("nx"), col("ty").as("ny"))
      .hint("shuffle_hash")
    cand.join(present, Seq("nx", "ny"))
      .groupBy(col("tx"), col("ty"))
      .agg((count(lit(1)) - 1).as("n_neighbors"))
      .orderBy(col("tx"), col("ty"))
  }

  val g12Sql: String =
    """WITH tiles AS (
      |  SELECT DISTINCT
      |    CAST(FLOOR((event_id * 7919 % 3500000 * 100 - 175000000)
      |      / 1000000.0) AS BIGINT) AS tx,
      |    CAST(FLOOR((event_id * 104729 % 1600000 * 100 - 80000000)
      |      / 1000000.0) AS BIGINT) AS ty
      |  FROM events),
      |offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
      |  (1,-1),(1,0),(1,1)),
      |n AS (
      |  SELECT t.tx, t.ty, COUNT(*) AS n_neighbors
      |  FROM tiles t CROSS JOIN offs o
      |  JOIN tiles t2 ON t2.tx = t.tx + o.dx AND t2.ty = t.ty + o.dy
      |  GROUP BY t.tx, t.ty)
      |SELECT tiles.tx, tiles.ty,
      |  COALESCE(n.n_neighbors, 0) AS n_neighbors
      |FROM tiles LEFT JOIN n ON tiles.tx = n.tx AND tiles.ty = n.ty
      |ORDER BY tiles.tx, tiles.ty""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("g13_map_pipeline", MapBench.g13MapPipeline, MapBench.g13Check),
    Op("g14_fleet_scan", MapBench.g14FleetScan, MapBench.g14Check),
    Op("g10_bbox_agg", g10BboxAgg, g10Sql),
    Op("g11_polyline_length", g11PolylineLength, g11Sql),
    Op("g15_polygon_area", g15PolygonArea, g15Sql),
    Op("g16_morton_layout", ZOrder.g16MortonLayout, ZOrder.g16Sql),
    Op("g17_radius_join", Spatial.g17RadiusJoin, Spatial.g17Sql),
    Op("g18_point_in_polygon", Spatial.g18PointInPolygon, Spatial.g18Sql),
    Op("g19_tile_pyramid", Spatial.g19TilePyramid, Spatial.g19Sql),
    Op("g20_nearest_snap", Spatial.g20NearestSnap, Spatial.g20Sql),
    Op("g12_tile_neighbors", g12TileNeighbors, g12Sql),
    Op("g01_varint_roundtrip", g01VarintRoundtrip, g01Sql),
    Op("g02_tile_transforms", g02TileTransforms, g02Sql),
    Op("g03_tilenum", g03TileNum, g03Sql),
    Op("g04_delta_decode", g04DeltaDecode, g04Sql),
    Op("g05_tag_parse", g05TagParse, g05Sql),
    Op("g06_point_clip", g06PointClip, g06Sql),
    Op("g07_ring_classify", g07RingClassify, g07Sql),
    Op("g08_geom_union", g08GeomUnion, g08Sql),
    Op("g09_zoom_dedup", g09ZoomDedup, g09Sql))
}
