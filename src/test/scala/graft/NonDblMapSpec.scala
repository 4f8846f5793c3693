package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.MapEncoder._
import graft.functions.GeomOps
import graft.operators.MapPipeline
import graft.sources.Mapsforge

/** Non-dbl map (no __dbl_* feature ids) with debugInfo signatures:
  * exercises ring inference (closed ≥4-point blocks → areas), the
  * force-close of nearly-closed rings, raw per-tile rows without
  * merge, and the debug wire format.
  */
class NonDblMapSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import NonDblMapSpec._

  private lazy val mapPath = MapEncoder.writeToTemp(testMap)

  test("debug-info wire format parses; non-dbl features have no ids") {
    val h = Mapsforge.readHeader(mapPath)
    assert(h.debugInfo && !h.isDbl)
    val (pois, ways) = Mapsforge.scan(spark, mapPath)
    val pl = pois.collect()
    assert(pl.length == 1 && pl.head.pnum.isEmpty)
    assert(pl.head.vtags("m2db_name") == "cafe1")
    val wl = ways.collect()
    assert(wl.length == 2)
    val line = wl.find(_.geomType == "MULTILINESTRING").get
    assert(line.lnum.isEmpty && line.tags == Seq("highway=path"))
    // label position = first coordinate + (dlat, dlon)
    assert(line.vtags("m2db_label_lat") == "51.525")
    assert(line.vtags("m2db_label_lon") == "7.09")
    val area = wl.find(_.geomType == "MULTIPOLYGON").get
    assert(area.anum.isEmpty)
    // force-closed: last coordinate snapped onto the first
    val ring = area.coords.head.head
    assert(ring.head == ring.last)
  }

  test("raw build keeps per-tile rows with unique synthetic ids") {
    val t = MapPipeline.buildRaw(spark, mapPath)
    assert(t.points.count() == 1)
    assert(t.lines.count() == 1)
    assert(t.areas.count() == 1)
    val area = t.areas.collect().head
    val g = GeomOps.fromWkb(area.getAs[Array[Byte]]("m2db_geometry"))
    assert(GeomOps.extractPolygons(g).nonEmpty)
    assert(math.abs(g.getArea - 0.05 * 0.03) < 1e-6)
    val ids = t.points.select("m2db_pnum").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("scanMany decodes a fleet of files in one job, rows tagged by file") {
    val second = MapEncoder.writeToTemp(testMap)
    val (pois, ways) = Mapsforge.scanMany(spark, Seq(mapPath, second))
    assert(pois.count() == 2 && ways.count() == 4)
    assert(pois.collect().map(_.fileId).sorted.toSeq == Seq(0, 1))
    assert(ways.collect().map(_.fileId).distinct.sorted.toSeq == Seq(0, 1))
  }

  test("permissive scan skips a corrupt tile; strict scan fails") {
    import java.nio.file.{Files, Paths}
    val bytes = Files.readAllBytes(Paths.get(mapPath))
    // trash the tail of the (single) tile payload
    for (i <- bytes.length - 12 until bytes.length)
      bytes(i) = 0x55.toByte
    val p = Files.createTempFile("graft-corrupt", ".map")
    Files.write(p, bytes)
    intercept[Exception] {
      Mapsforge.scan(spark, p.toString)._2.collect()
    }
    val (pois, ways) = Mapsforge.scan(spark, p.toString, permissive = true)
    assert(pois.count() == 0 && ways.count() == 0) // tile skipped, job alive
  }

  test("map2db entry on a non-dbl map: raw tables, generated README, no toml") {
    val out = java.nio.file.Files.createTempDirectory("graft-nondbl").toString
    val t = graft.sources.FdoSink.map2db(spark, mapPath, out)
    assert(t.areas.count() == 1)
    val readme = spark.read.parquet(s"$out/README").collect()
      .map(_.getString(1))
    assert(readme.exists(_.contains(
      "does not appear to have been created by forgemap")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "config.toml")))
  }
}

object NonDblMapSpec {
  private val poiTags = Seq("amenity=cafe")
  private val wayTags = Seq("highway=path", "landuse=grass")

  def testMap: MapSpec = {
    val poi = PoiSpec(tileZ = 9, lat = 51.55, lon = 7.3, layer = 0,
      tagIdx = Seq(0), name = Some("cafe1"))
    // open polyline → inferred MULTILINESTRING; carries a label
    // position offset from its first coordinate
    val path = WaySpec(tileZ = 9, layer = 0, tagIdx = Seq(0),
      labelOffset = Some((0.005, -0.01)),
      blocks = Seq(Seq(Seq((7.1, 51.52), (7.2, 51.53), (7.3, 51.54)))))
    // closed 5-point ring → inferred MULTIPOLYGON; end point is 1 µdeg
    // off so the parser must force-close it (map2db.py:611-617)
    val grass = WaySpec(tileZ = 10, layer = 0, tagIdx = Seq(1),
      blocks = Seq(Seq(Seq((7.2, 51.5), (7.25, 51.5), (7.25, 51.53),
        (7.2, 51.53), (7.200001, 51.5)))))
    MapSpec(minLat = 51.45, minLon = 7.05, maxLat = 51.6, maxLon = 7.35,
      poiTags = poiTags, wayTags = wayTags,
      subfiles = Seq(SubfileSpec(10, 9, 11, Seq(
        TileSpec(532, 340, pois = Seq(poi), ways = Seq(path, grass))))),
      debugInfo = true)
  }
}
