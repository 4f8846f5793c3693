package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Invariant, MapEncoder, Pins}
import graft.MapEncoder.{MapSpec, PoiSpec, SubfileSpec, TileSpec, WaySpec}
import graft.Tables
import graft.sources.FdoSink

/** g13: the reference's CORE workload end to end — encode a synthetic
  * dbl map sized from the scale factor, then run the full distributed
  * map2db pipeline (header parse → tile fan-out decode → clip →
  * cross-level merge → RFC16 parquet sink). This is the number that
  * answers "does graft beat map2db.py's single-node throughput":
  * the reference walks tiles serially in Python (map2db.py:1487-1510);
  * here every tile is an independent task.
  *
  * No SQL oracle can re-decode the binary: [[g13Check]] and
  * [[g14Check]] hold the outputs to the fixture's planted features,
  * and MapsforgeSpec/NonDblMapSpec pin the wire-format round-trip.
  */
object MapBench {

  /** encoded map per feature count, reused across verify/bench calls.
    * Fixture files carry deleteOnExit as a JVM-exit backstop;
    * [[releaseFixtures]] is the eager drop the bench calls last so a
    * long-lived host process doesn't hold them for its whole lifetime
    * (round-9 verdict #2: fixtures and g13 output dirs leaked). */
  private val mapCache = TrieMap.empty[Long, String]

  private def encodeFixture(n: Long): String = {
    val p = writeMap(n)
    new java.io.File(p).deleteOnExit()
    p
  }

  /** Delete every cached fixture `.map` and forget it — the next
    * consumer re-encodes. Safe mid-process: fixture reads happen
    * inside the query invocation that (re)creates them. */
  def releaseFixtures(): Unit = {
    mapCache.values.foreach(p => new java.io.File(p).delete())
    mapCache.clear()
  }

  /** Recursive local delete for the bench-scoped FDO output dirs. */
  private def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(path))
  }

  /** Pre-encode the synthetic fixture maps g13/g14 read, so a timed
    * run measures the DISTRIBUTED PIPELINE (decode→clip→merge→sink),
    * not driver-side fixture construction: the reference's own input
    * is a pre-existing .map file, so encoding one is benchmark setup,
    * not the workload under comparison. Same cache keys as
    * [[g13MapPipeline]]/[[g14FleetScan]] compute. */
  def warmFixtures(spark: SparkSession, dir: String): Unit = {
    val n13 = g13FixtureSize(spark, dir)
    mapCache.getOrElseUpdate(n13, encodeFixture(n13))
    val n14 = g14FixtureSize(spark, dir)
    mapCache.getOrElseUpdate(n14, encodeFixture(n14))
    mapCache.getOrElseUpdate(n14 / 2, encodeFixture(n14 / 2))
  }

  /** Fixture sizing shared by the warmer and the queries — if these
    * ever diverge, the warm encode misses the cache and driver-side
    * encoding silently lands back inside the measured time. Sized
    * from the scale factor (events row count), capped so the
    * driver-side encode stays a fraction of the pipeline time. */
  private def g13FixtureSize(spark: SparkSession, dir: String): Long =
    math.min(Tables.load(spark, dir, "events").count(), 60000L)

  private def g14FixtureSize(spark: SparkSession, dir: String): Long =
    math.min(Tables.load(spark, dir, "events").count() / 10, 6000L)

  // fractional variants of Mapsforge.lonFromX/latFromY for positions
  // INSIDE a tile (the reader's helpers take integer tile corners)
  private def lonFromX(z: Int, x: Double): Double =
    (x / (1L << z) * 2.0 - 1.0) * 180.0
  private def latFromY(z: Int, y: Double): Double = {
    val n = (1L << z).toDouble
    (math.atan(math.exp(((n - y) / (n / 2.0) - 1.0) * math.Pi))
      / math.Pi - 0.25) * 360.0
  }
  private def xFromLon(z: Int, lon: Double): Long =
    graft.sources.Mapsforge.xFromLon(z, lon).toLong
  private def yFromLat(z: Int, lat: Double): Long =
    graft.sources.Mapsforge.yFromLat(z, lat).toLong

  private val poiTags = Seq("amenity=cafe", "place=town", "__dbl_pnum=%i")
  // _lbd_ must stay the LAST way tag: the header's dbl detection
  // reads the reversed license from wayTags.last
  private val wayTags = Seq("highway=primary", "__dbl_lnum=%i",
    "leisure=park", "__dbl_anum=%i", "_lbd_=" + "ODbL-1.0".reverse)

  private lazy val grid12: (Array[Long], Array[Long]) = (
    (xFromLon(12, 7.0) until xFromLon(12, 8.0)).toArray,
    (yFromLat(12, 52.0) until yFromLat(12, 51.0)).toArray)

  /** What [[writeMap]] plants for `n` POIs: POI records (every 10th
    * again at level 8), distinct POIs, lines and areas. */
  private def planted(n: Long): (Long, Long, Long, Long) = {
    val tiles = grid12._1.length.toLong * grid12._2.length
    (n + (n + 9) / 10, n, tiles, (tiles + 2) / 3)
  }

  /** Deterministic map: a level-12 tile grid over lat 51-52 / lon 7-8
    * holding `n` POIs round-robin (every 10th pnum repeated at level 8
    * to exercise the cross-level merge), plus one 3-vertex way per
    * level-12 tile. */
  private def writeMap(n: Long): String = {
    val z = 12
    val (xs, ys) = grid12
    val nTiles = xs.length * ys.length
    val perTile = Array.fill(nTiles)(
      Vector.newBuilder[PoiSpec])
    val wayPerTile = Array.fill(nTiles)(Vector.newBuilder[WaySpec])
    var i = 0L
    while (i < n) {
      val t = (i % nTiles).toInt
      val tx = xs(t % xs.length); val ty = ys(t / xs.length)
      // spread POIs inside the tile box (stay off the edges)
      val fx = 0.1 + 0.8 * ((i / nTiles) % 97).toDouble / 97.0
      val lon = lonFromX(z, tx + fx)
      val lat = latFromY(z, ty + 0.5)
      perTile(t) += PoiSpec(tileZ = z, lat = lat, lon = lon,
        layer = (i % 5).toInt, tagIdx = Seq(0, 2),
        vtagValues = Seq(Int.box(i.toInt)))
      i += 1
    }
    // one way per tile: a short 3-vertex polyline mid-tile
    var t = 0
    var lnum = 0L
    while (t < nTiles) {
      val tx = xs(t % xs.length); val ty = ys(t / xs.length)
      val lat = latFromY(z, ty + 0.4)
      val w = WaySpec(tileZ = z, layer = 0, tagIdx = Seq(0, 1),
        vtagValues = Seq(Int.box(lnum.toInt)),
        doubleDelta = t % 2 == 0,
        blocks = Seq(Seq(Seq(
          (lonFromX(z, tx + 0.2), lat),
          (lonFromX(z, tx + 0.5), lat),
          (lonFromX(z, tx + 0.8), lat)))))
      wayPerTile(t) += w
      // every 3rd tile also carries a closed-ring area (park)
      if (t % 3 == 0) {
        val aLat0 = latFromY(z, ty + 0.6)
        val aLat1 = latFromY(z, ty + 0.7)
        val ring = Seq(
          (lonFromX(z, tx + 0.2), aLat0), (lonFromX(z, tx + 0.4), aLat0),
          (lonFromX(z, tx + 0.4), aLat1), (lonFromX(z, tx + 0.2), aLat1),
          (lonFromX(z, tx + 0.2), aLat0))
        wayPerTile(t) += WaySpec(tileZ = z, layer = 0, tagIdx = Seq(2, 3),
          vtagValues = Seq(Int.box(t)), blocks = Seq(Seq(ring)))
      }
      lnum += 1
      t += 1
    }
    val tiles12 = (0 until nTiles).map { t =>
      TileSpec(xs(t % xs.length), ys(t / xs.length),
        pois = perTile(t).result(), ways = wayPerTile(t).result())
    }
    // level-8 subfile: every 10th pnum again (same location) so the
    // merge pipeline has real cross-level work
    val z8 = 8
    val l8 = scala.collection.mutable.Map
      .empty[(Long, Long), Vector[PoiSpec]].withDefaultValue(Vector.empty)
    var j = 0L
    while (j < n) {
      val t = (j % nTiles).toInt
      val tx = xs(t % xs.length); val ty = ys(t / xs.length)
      val fx = 0.1 + 0.8 * ((j / nTiles) % 97).toDouble / 97.0
      val lon = lonFromX(z, tx + fx)
      val lat = latFromY(z, ty + 0.5)
      val key = (xFromLon(z8, lon), yFromLat(z8, lat))
      l8(key) = l8(key) :+ PoiSpec(tileZ = 7, lat = lat, lon = lon,
        layer = (j % 5).toInt, tagIdx = Seq(0, 2),
        vtagValues = Seq(Int.box(j.toInt)))
      j += 10
    }
    val tiles8 = l8.toSeq.sortBy(_._1).map { case ((tx, ty), ps) =>
      TileSpec(tx, ty, pois = ps)
    }
    val spec = MapSpec(minLat = 51.0, minLon = 7.0, maxLat = 52.0,
      maxLon = 8.0, poiTags = poiTags, wayTags = wayTags,
      subfiles = Seq(
        SubfileSpec(z8, 6, 8, tiles8),
        SubfileSpec(z, 9, 13, tiles12)),
      comment = Some("graft bench map"),
      createdBy = Some("graft"))
    MapEncoder.writeToTemp(spec)
  }

  /** g14: fleet decode — MANY map files in ONE job (the 100 TB shape:
    * a directory of regional extracts, not one planet file). Two
    * differently-sized synthetic maps decode through a single
    * scanMany pass (per-file tile tasks, broadcast dictionaries) and
    * aggregate per fileId; feature ids are per-file, so the count
    * groups by (fileId) and distinct-counts ids WITHIN each file.
    * Checked by [[g14Check]]; NonDblMapSpec pins the two-file
    * row-tagging. */
  def g14FleetScan(spark: SparkSession, dir: String): DataFrame = {
    val n = g14FixtureSize(spark, dir)
    val p1 = mapCache.getOrElseUpdate(n, encodeFixture(n))
    val p2 = mapCache.getOrElseUpdate(n / 2, encodeFixture(n / 2))
    // persisted decode: the poi and way aggregates are two consumers
    // of one decode (scanMany would run the full binary decode twice);
    // memoized per (session, path-set) so repeat invocations reuse one
    // persist instead of stacking a new one per call (the round-2 leak)
    import spark.implicits._
    val tiles = Pins.memo(spark, ("g14", p1, p2))(Pins.persist(
      spark.createDataset(graft.sources.Mapsforge.decodeTiles(
        spark, Seq(p1, p2), 0, permissive = false)._1), MEMORY_AND_DISK))
    import org.apache.spark.sql.functions._
    val p = tiles.flatMap(_._1).toDF().groupBy(col("fileId"))
      .agg(count(lit(1)).as("n_pois"),
        countDistinct(col("pnum")).as("n_features"))
    val w = tiles.flatMap(_._2).toDF().groupBy(col("fileId"))
      .agg(count(lit(1)).as("n_ways"))
    // left join: a file with POIs but zero ways must still report
    // (n_ways = 0), not vanish from the fleet stats
    p.join(w, Seq("fileId"), "left")
      .withColumn("n_ways", coalesce(col("n_ways"), lit(0L)))
      .orderBy(col("fileId"))
  }

  /** g14's check: each file's counts are its fixture's planted ones. */
  val g14Check: Invariant = Invariant("per-file counts equal the " +
    "planted features", (spark, dir, res) => {
      val n = g14FixtureSize(spark, dir)
      Invariant.rowsEqual(res, Seq(n, n / 2).zipWithIndex.map {
        case (m, file) =>
          val (records, pois, lines, areas) = planted(m)
          Seq(file, records, pois, lines + areas)
      }: _*)
    })

  def g13MapPipeline(spark: SparkSession, dir: String): DataFrame = {
    val n = g13FixtureSize(spark, dir)
    val path = mapCache.getOrElseUpdate(n, encodeFixture(n))
    val out = java.nio.file.Files
      .createTempDirectory("graft-bench-fdo").toString
    try {
      FdoSink.map2db(spark, path, out)
      import spark.implicits._
      // r17 (guide §2.6): the three read-back counts are independent
      // bounded jobs — overlap them like the sink's writes
      graft.Threads.inParallel(Seq("points", "lines", "areas").map(t =>
        () => {
          // a table with no rows writes only _SUCCESS (no schema to read)
          val n = try spark.read.parquet(s"$out/$t").count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L }
          t -> n
        }))
        .toDF("table_name", "n_rows")
        .orderBy("table_name")
      // counts above are EAGER, so the sink dir is consumed by the
      // time we return — every invocation cleans its own output
      // instead of leaking one temp dir per bench rep (round-9
      // verdict #2)
    } finally deleteRecursively(out)
  }

  /** g13's check: each FDO table holds the planted features, the
    * level-8 POI copies merged away. */
  val g13Check: Invariant = Invariant("table rows equal the planted " +
    "features", (spark, dir, res) => {
      val (_, pois, lines, areas) = planted(g13FixtureSize(spark, dir))
      Invariant.rowsEqual(res,
        Seq("areas", areas), Seq("lines", lines), Seq("points", pois))
    })
}
