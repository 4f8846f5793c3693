package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.MapEncoder._
import graft.operators.{FeatureMerge, MapPipeline}
import graft.sources.Mapsforge

/** Differential spec for `MapPipeline.build`: the fused plan (one
  * decode → clip pass, one (table, fid) merge, one vtag key collect)
  * must give, row for row and byte for byte, the tables of the per-table
  * composition — `mergeFeatures` over `pointFeatures` / `lineFeatures` /
  * `areaFeatures`, `mergeLines` on lines, then each table's own vtag
  * columns.
  *
  * Geography: bbox lon 6.6-7.6, lat 51.3-51.6. The level-8 subfile has
  * tiles x 132-133 (border at lon 7.03125); the level-10 subfile has
  * tiles x 530-533 (borders at 6.6796875, 7.03125, 7.3828125) in two
  * rows. Each line and area is written whole into every tile its box
  * meets, at level 10 and, for some, at level 8 too, so the clip cuts
  * it at tile borders on both levels; some POIs repeat at level 8.
  */
class FusedBuildSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import FusedBuildSpec._

  /** The per-table composition the fused build replaces. */
  private def reference(path: String): Seq[DataFrame] = {
    val (pois, ways) = Mapsforge.scan(spark, path)
    Seq(
      "m2db_pnum" -> MapPipeline.mergeFeatures(MapPipeline.pointFeatures(pois)),
      "m2db_lnum" -> FeatureMerge.mergeLines(
        MapPipeline.mergeFeatures(MapPipeline.lineFeatures(ways)),
        "m2db_geometry"),
      "m2db_anum" -> MapPipeline.mergeFeatures(MapPipeline.areaFeatures(ways)))
      .map { case (idCol, df) =>
        val merged = df.withColumnRenamed("fid", idCol)
        merged.select(explode(map_keys(col("vtags"))))
          .distinct().collect().map(_.getString(0)).sorted
          .foldLeft(merged)((d, k) => d.withColumn(k, col("vtags").getItem(k)))
          .drop("vtags")
      }
  }

  /** Rows by id, WKB as byte sequences so equality is byte equality. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.head.asInstanceOf[Long])

  private def assertSameTables(t: MapPipeline.MapTables,
      want: Seq[DataFrame]): Unit = {
    Seq(t.points, t.lines, t.areas).zip(want).foreach { case (got, ref) =>
      assert(got.columns.toSeq == ref.columns.toSeq)
      assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType))
      assert(rows(got) == rows(ref))
    }
    // every table's vtag columns follow its seven base columns
    assert(t.vtagKeys == want.flatMap(_.columns.drop(7)).distinct.sorted)
  }

  private def nonEmptyTiles(path: String): Int =
    Mapsforge.tileTasks(Mapsforge.readHeader(path)).size

  test("fused build equals the per-table composition across tile borders " +
    "and levels") {
    val path = MapEncoder.writeToTemp(crossingMap(41L, withAreas = true))
    val want = reference(path)
    // the fixture exercises what the merge exists for: features cut at
    // tile borders, and features seen at both levels
    val (pois, ways) = Mapsforge.scan(spark, path)
    val frags = Seq(MapPipeline.pointFeatures(pois).count(),
      MapPipeline.lineFeatures(ways).count(),
      MapPipeline.areaFeatures(ways).count())
    assert(frags(1) > 20 && frags(2) > 10 && frags(0) > 40, frags)
    assert(want.map(_.count()) == Seq(40L, 20L, 10L))
    assert(want(0).filter(col("m2db_minz") === 7).count() == 13)
    assert(want(1).filter(col("m2db_minz") === 7).count() == 10)
    assert(want(2).filter(col("m2db_minz") === 7).count() == 5)

    val t = MapPipeline.build(spark, path)
    try {
      assertSameTables(t, want)
      assert(t.decodedTiles() == nonEmptyTiles(path))
    } finally t.release()
    // the strict build checks the same fragments and decodes once too
    val s = MapPipeline.build(spark, path, strict = true)
    try {
      assertSameTables(s, want)
      assert(s.decodedTiles() == nonEmptyTiles(path))
    } finally s.release()
  }

  test("fused build on a map without areas: empty areas table, same schema") {
    val path = MapEncoder.writeToTemp(crossingMap(42L, withAreas = false))
    val want = reference(path)
    val t = MapPipeline.build(spark, path)
    try {
      assert(t.areas.count() == 0)
      assertSameTables(t, want)
      assert(t.decodedTiles() == nonEmptyTiles(path),
        s"decoded ${t.decodedTiles()} tiles, the map has " +
          s"${nonEmptyTiles(path)} non-empty ones")
    } finally t.release()
  }
}

object FusedBuildSpec {
  private val poiTags = Seq(
    "amenity=cafe", "place=town", "__dbl_pnum=%i", "population=%i")
  private val wayTags = Seq("highway=primary", "__dbl_lnum=%i",
    "__dbl_anum=%i", "name:en=%s", "leisure=park",
    "_lbd_=" + "ODbL-1.0".reverse)
  private val (minLon, maxLon, minLat, maxLat) = (6.6, 7.6, 51.3, 51.6)

  /** Level-`z` tiles whose boxes meet the box of `pts` (lon, lat). */
  private def tilesOver(z: Int, pts: Seq[(Double, Double)]): Seq[(Long, Long)] =
    for {
      x <- Mapsforge.xFromLon(z, pts.map(_._1).min).toLong to
        Mapsforge.xFromLon(z, pts.map(_._1).max).toLong
      y <- Mapsforge.yFromLat(z, pts.map(_._2).max).toLong to
        Mapsforge.yFromLat(z, pts.map(_._2).min).toLong
    } yield (x, y)

  def crossingMap(seed: Long, withAreas: Boolean): MapSpec = {
    val rnd = new scala.util.Random(seed)
    def u(lo: Double, hi: Double): Double =
      math.rint((lo + rnd.nextDouble() * (hi - lo)) * 1e6) / 1e6
    val l8 = scala.collection.mutable.Map.empty[(Long, Long), TileSpec]
    val l10 = scala.collection.mutable.Map.empty[(Long, Long), TileSpec]
    def put(level: Int, at: (Long, Long), f: TileSpec => TileSpec): Unit = {
      val m = if (level == 8) l8 else l10
      m(at) = f(m.getOrElse(at, TileSpec(at._1, at._2)))
    }
    // POIs: every third also at level 8, same pnum and attributes
    for (pnum <- 1 to 40) {
      val (lon, lat) = (u(6.62, 7.58), u(51.32, 51.58))
      val withPop = pnum % 2 == 1
      val p = PoiSpec(tileZ = 9, lat = lat, lon = lon, layer = pnum % 3,
        tagIdx = Seq(pnum % 2, 2) ++ (if (withPop) Seq(3) else Nil),
        vtagValues = Seq(pnum) ++ (if (withPop) Seq(1000 * pnum) else Nil),
        name = if (pnum % 4 == 0) Some(s"poi $pnum") else None)
      tilesOver(10, Seq((lon, lat))).foreach(at =>
        put(10, at, t => t.copy(pois = t.pois :+ p)))
      if (pnum % 3 == 0)
        tilesOver(8, Seq((lon, lat))).foreach(at =>
          put(8, at, t => t.copy(pois = t.pois :+ p.copy(tileZ = 7))))
    }
    def way(w: WaySpec, pts: Seq[(Double, Double)], alsoL8: Boolean): Unit = {
      tilesOver(10, pts).foreach(at =>
        put(10, at, t => t.copy(ways = t.ways :+ w)))
      if (alsoL8)
        tilesOver(8, pts).foreach(at =>
          put(8, at, t => t.copy(ways = t.ways :+ w.copy(tileZ = 7))))
    }
    // lines from west of lon 7.03125 to east of it (some past 7.38)
    for (lnum <- 1 to 20) {
      val lats = Seq.fill(4)(u(51.32, 51.58))
      val lons = Seq(u(6.62, 6.9), u(6.92, 7.02), u(7.05, 7.3), u(7.1, 7.55))
        .sorted
      val pts = lons.zip(lats)
      val named = lnum % 3 == 0
      way(WaySpec(tileZ = 9, layer = lnum % 2, tagIdx =
        Seq(0, 1) ++ (if (named) Seq(3) else Nil),
        vtagValues = Seq(lnum) ++ (if (named) Seq(s"road $lnum") else Nil),
        doubleDelta = lnum % 2 == 1, ref = if (lnum % 5 == 0)
          Some(s"B$lnum") else None,
        blocks = Seq(Seq(pts))), pts, alsoL8 = lnum % 2 == 0)
    }
    // areas straddling lon 7.03125, some with a hole
    if (withAreas) for (anum <- 1 to 10) {
      val (x0, x1) = (u(6.9, 7.0), u(7.06, 7.45))
      val (y0, y1) = (u(51.32, 51.4), u(51.47, 51.58))
      val shell = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      val hx = (x0 + x1) / 2
      val hole = Seq((hx - 0.01, y0 + 0.02), (hx + 0.01, y0 + 0.02),
        (hx + 0.01, y0 + 0.04), (hx - 0.01, y0 + 0.04), (hx - 0.01, y0 + 0.02))
      val named = anum % 2 == 0
      way(WaySpec(tileZ = 9, layer = 0, tagIdx =
        Seq(4, 2) ++ (if (named) Seq(3) else Nil),
        vtagValues = Seq(anum) ++ (if (named) Seq(s"park $anum") else Nil),
        blocks = Seq(if (anum % 2 == 0) Seq(shell, hole) else Seq(shell))),
        shell, alsoL8 = anum % 2 == 1)
    }
    MapSpec(minLat = minLat, minLon = minLon, maxLat = maxLat,
      maxLon = maxLon, poiTags = poiTags, wayTags = wayTags,
      subfiles = Seq(
        SubfileSpec(8, 6, 8, l8.values.toSeq.sortBy(t => (t.y, t.x))),
        SubfileSpec(10, 9, 11, l10.values.toSeq.sortBy(t => (t.y, t.x)))))
  }
}
