package graft

import org.scalatest.funsuite.AnyFunSuite

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.WKTReader

import graft.functions.GeomOps

class GeometrySpec extends AnyFunSuite {
  import GeometrySpec._

  test("WKB roundtrip preserves geometry") {
    val mp = GeomOps.multiPoint(Seq((1.5, 2.5), (3.0, -4.0)))
    val back = GeomOps.fromWkb(GeomOps.toWkb(mp))
    assert(back.equalsExact(mp))
  }

  test("merge walk unions 100 fragments of one feature in one cascaded call") {
    import SparkTestSession.spark
    import spark.implicits._
    import graft.operators.MapPipeline
    // 100 consecutive segments of one long road, worst-case ordering
    val segs = (0 until 100).map { i =>
      MapPipeline.Feature(1L, 10, 9, 11, 0, "[]", Map.empty,
        GeomOps.toWkb(GeomOps.multiLineString(
          Seq(Seq((i * 1e-4, 0.0), ((i + 1) * 1e-4, 0.0))))))
    }.reverse
    val out = MapPipeline.mergeFeatures(segs.toDS())
      .collect().head.getAs[Array[Byte]]("m2db_geometry")
    val g = GeomOps.fromWkb(out)
    assert(math.abs(g.getLength - 100 * 1e-4) < 1e-12)
    val env = g.getEnvelopeInternal
    assert(env.getMinX == 0.0 && math.abs(env.getMaxX - 0.01) < 1e-12)
  }

  test("clipToBox trims a line at the tile edge on the microdegree grid") {
    // line crossing the box [0,0]-[10,10] horizontally at y=5
    val line = GeomOps.lineString(Seq((-5.0, 5.0), (15.0, 5.0)))
    val clipped = GeomOps.clipToBox(line, 0, 0, 10, 10)
    assert(clipped.getGeometryType == "LineString")
    val cs = clipped.getCoordinates
    assert(cs.head.x == 0.0 && cs.last.x == 10.0)
    assert(cs.forall(_.y == 5.0))
  }

  test("clipToBox drops a geometry entirely outside (empty result)") {
    val pt = GeomOps.multiPoint(Seq((20.0, 20.0)))
    assert(GeomOps.clipToBox(pt, 0, 0, 10, 10).isEmpty)
  }

  test("clip of a polygon straddling the edge keeps the inside part") {
    val poly = GeomOps.polygon(
      Seq((5.0, 5.0), (15.0, 5.0), (15.0, 8.0), (5.0, 8.0), (5.0, 5.0)))
    val clipped = GeomOps.clipToBox(poly, 0, 0, 10, 10)
    assert(GeomOps.extractPolygons(clipped).nonEmpty)
    assert(math.abs(clipped.getArea - 15.0) < 1e-9) // 5x3 remains
  }

  test("makeValidPolygonal fixes a bowtie self-intersection") {
    // bowtie: invalid as a single ring; fixer splits into two triangles
    val bowtie = GeomOps.polygon(
      Seq((0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)))
    assert(!bowtie.isValid)
    val fixed = GeomOps.makeValidPolygonal(bowtie)
    assert(fixed.nonEmpty)
    assert(fixed.get.isValid)
    assert(math.abs(fixed.get.getArea - 8.0) < 1e-9) // two 2x2 triangles
  }

  test("union dedups identical points (cross-tile merge semantics)") {
    val a = GeomOps.multiPoint(Seq((1.0, 1.0), (2.0, 2.0)))
    val b = GeomOps.multiPoint(Seq((2.0, 2.0), (3.0, 3.0)))
    val u = GeomOps.union(a, b)
    assert(u.getNumGeometries == 3)
  }

  test("mergeLineFeature stitches exactly-touching parts") {
    val ml = GeomOps.multiLineString(Seq(
      Seq((0.0, 0.0), (1.0, 0.0)),
      Seq((1.0, 0.0), (2.0, 0.0)),
      Seq((2.0, 0.0), (3.0, 0.0))))
    val merged = GeomOps.mergeLineFeature(ml)
    assert(merged.getGeometryType == "LineString")
    assert(merged.getCoordinates.length == 4)
  }

  test("mergeLineFeature snaps endpoints within 2.1 microdegrees") {
    // second part starts 1 µdeg off the first part's end —
    // plain linemerge cannot join them, the snap pass must
    val ml = GeomOps.multiLineString(Seq(
      Seq((0.0, 0.0), (1.0, 0.0)),
      Seq((1.000001, 0.0), (2.0, 0.0))))
    assert(GeomOps.lineMerge(ml).getNumGeometries == 2) // stays split
    val merged = GeomOps.mergeLineFeature(ml)
    assert(merged.getGeometryType == "LineString",
      s"expected stitched LineString, got ${merged.toText}")
  }

  test("mergeLineFeature leaves genuinely disjoint parts unchanged") {
    val ml = GeomOps.multiLineString(Seq(
      Seq((0.0, 0.0), (1.0, 0.0)),
      Seq((5.0, 5.0), (6.0, 5.0))))
    val merged = GeomOps.mergeLineFeature(ml)
    assert(merged.getNumGeometries == 2)
  }

  test("keepLinear discards point artifacts after clip") {
    // touching the box only at a corner point plus a crossing line
    val ml = GeomOps.multiLineString(Seq(
      Seq((-5.0, 5.0), (15.0, 5.0)),
      Seq((-5.0, -5.0), (0.0, 0.0)))) // touches box corner at (0,0)
    val clipped = GeomOps.clipToBox(ml, 0, 0, 10, 10)
    val kept = GeomOps.keepLinear(clipped)
    assert(kept.nonEmpty)
    assert(GeomOps.extractLines(kept.get).size == 1)
  }

  test("normalize is canonical (same geometry, any construction order)") {
    val a = GeomOps.multiPoint(Seq((1.0, 1.0), (2.0, 2.0)))
    val b = GeomOps.multiPoint(Seq((2.0, 2.0), (1.0, 1.0)))
    assert(GeomOps.normalized(a).equalsExact(GeomOps.normalized(b)))
    assert(GeomOps.toWkb(GeomOps.normalized(a)).toSeq ==
      GeomOps.toWkb(GeomOps.normalized(b)).toSeq)
  }

  test("Douglas-Peucker simplify: vertex subset, endpoints kept, tol bound") {
    // a jittered line: y-noise of ±2e-5 around y=0 over 100 points;
    // tol 1e-4 must collapse it to (nearly) the endpoints, tol 1e-6
    // must keep every jitter vertex
    val pts = (0 until 100).map(i =>
      (i * 1e-3, if (i % 2 == 0) 2e-5 else -2e-5))
    val line = GeomOps.lineString(pts)
    val simple = GeomOps.simplify(line, 1e-4)
    val kept = simple.getCoordinates.toSeq
    val orig = line.getCoordinates.toSeq
    assert(kept.size < orig.size / 10, s"kept ${kept.size}")
    assert(kept.toSet.subsetOf(orig.toSet), "DP must keep a vertex SUBSET")
    assert(kept.head == orig.head && kept.last == orig.last)
    // deviation bound: every original vertex within tol of the result
    assert(orig.forall(c =>
      simple.distance(GeomOps.point(c.x, c.y)) <= 1e-4 + 1e-12))
    // below-noise tolerance keeps everything
    assert(GeomOps.simplify(line, 1e-6).getCoordinates.length ==
      orig.size)
    // topology-preserving variant never empties a polygon
    val ring = (0 until 36).map { i =>
      val a = i * math.Pi / 18
      (math.cos(a), math.sin(a))
    }
    val poly = GeomOps.polygon(ring :+ ring.head)
    val sp = GeomOps.simplifyPreserving(poly, 10.0)
    assert(!sp.isEmpty && sp.getArea > 0, "preserving variant collapsed")
  }

  for ((name, parts, want) <- unionPins)
    test(s"unionAll keeps the classic overlay's answer on $name") {
      assert(GeomOps.normalized(GeomOps.unionAll(parts.map(read))).toText ==
        want)
    }

  for ((name, wkt, want) <- clipPins)
    test(s"clipToBox keeps OverlayNG's answer on $name") {
      val g = read(wkt)
      assert(kept(g, GeomOps.clipToBox(g, 0, 0, 10, 10)) == want)
    }
}

object GeometrySpec {
  /** Edge cases of the tile clip, the POIs apart all left by its exact
    * kernel to OverlayNG: (name, input, what map2db keeps of its clip to
    * the box (0 0, 10 10), as OverlayNG answers). */
  val clipPins: Seq[(String, String, String)] = Seq(
    ("a line along a tile edge", "LINESTRING (-5 0, 5 0)",
      "LINESTRING (0 0, 5 0)"),
    ("a line touching the box only at a corner",
      "LINESTRING (-5 5, 5 -5)", "NONE"),
    ("a vertex exactly on the border", "LINESTRING (-5 5, 0 5, 5 8)",
      "LINESTRING (0 5, 5 8)"),
    ("a self-crossing line through the border",
      "LINESTRING (-5 2, 8 8, 8 2, -5 8)",
      "MULTILINESTRING ((0 4.307692, 1.5 5), (0 5.692308, 1.5 5), " +
        "(1.5 5, 8 2, 8 8, 1.5 5))"),
    ("a polygon with a hole crossing the border",
      "POLYGON ((-5 2, 8 2, 8 8, -5 8, -5 2), (-2 4, 4 4, 4 6, -2 6, -2 4))",
      "POLYGON ((0 2, 0 4, 4 4, 4 6, 0 6, 0 8, 8 8, 8 2, 0 2))"),
    ("a concave polygon the clip splits in two",
      "POLYGON ((-5 1, 5 1, 5 3, -3 3, -3 7, 5 7, 5 9, -5 9, -5 1))",
      "MULTIPOLYGON (((0 1, 0 3, 5 3, 5 1, 0 1)), ((0 7, 0 9, 5 9, 5 7, 0 7)))"),
    ("a crossing at an exact half microdegree",
      "LINESTRING (-0.000003 5, 0.000003 5.000003)",
      "LINESTRING (0 5.000002, 0.000003 5.000003)"),
    ("a POI on the edge", "MULTIPOINT ((0 5))", "POINT (0 5)"),
    ("a POI 0.4 udeg outside the edge", "MULTIPOINT ((-0.0000004 5))",
      "POINT (0 5)"))

  /** Unions of fragments that the exact union kernel leaves to the
    * classic overlay: (name, fragments, the overlay's normalized answer).
    * Shells turn clockwise, as map2db's normalized fragments do. */
  val unionPins: Seq[(String, Seq[String], String)] = Seq(
    ("two crossing lines",
      Seq("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)"),
      "MULTILINESTRING ((0 0, 1 1), (0 2, 1 1), (1 1, 2 0), " +
        "(1 1, 2 2))"),
    ("a line ending on another line's interior vertex",
      Seq("LINESTRING (0 0, 1 1, 2 0)", "LINESTRING (1 1, 1 3)"),
      "MULTILINESTRING ((0 0, 1 1), (1 1, 1 3), (1 1, 2 0))"),
    ("collinear overlapping fragments",
      Seq("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)"),
      "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"),
    ("a duplicated fragment",
      Seq("LINESTRING (0 0, 1 1, 2 1)", "LINESTRING (0 0, 1 1, 2 1)"),
      "MULTILINESTRING ((0 0, 1 1), (1 1, 2 1))"),
    ("a closed line part",
      Seq("LINESTRING (0 0, 0 2, 2 2, 0 0)", "LINESTRING (2 2, 3 3)"),
      "MULTILINESTRING ((0 0, 0 2, 2 2), (0 0, 2 2), (2 2, 3 3))"),
    ("a piece with a hole",
      Seq("POLYGON ((0 0, 0 4, 2 4, 2 0, 0 0), " +
        "(0.5 1, 1.5 1, 1.5 3, 0.5 3, 0.5 1))",
        "POLYGON ((2 0, 2 4, 4 4, 4 0, 2 0))"),
      "POLYGON ((0 0, 0 4, 2 4, 4 4, 4 0, 2 0, 0 0), (0.5 1, " +
        "1.5 1, 1.5 3, 0.5 3, 0.5 1))"),
    ("four pieces ringing a gap",
      Seq("POLYGON ((0 0, 0 1, 1 1, 2 1, 3 1, 3 0, 0 0))",
        "POLYGON ((0 2, 0 3, 3 3, 3 2, 2 2, 1 2, 0 2))",
        "POLYGON ((0 1, 0 2, 1 2, 1 1, 0 1))",
        "POLYGON ((2 1, 2 2, 3 2, 3 1, 2 1))"),
      "POLYGON ((0 0, 0 1, 0 2, 0 3, 3 3, 3 2, 3 1, 3 0, 0 0), " +
        "(1 1, 2 1, 2 2, 1 2, 1 1))"),
    ("two pieces touching at one vertex",
      Seq("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "POLYGON ((1 1, 1 2, 2 2, 2 1, 1 1))"),
      "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((1 1, 1 2, " +
        "2 2, 2 1, 1 1)))"),
    ("a shared edge split by a T-junction",
      Seq("POLYGON ((0 0, 0 2, 1 2, 1 0, 0 0))",
        "POLYGON ((1 0, 1 1, 1 2, 2 2, 2 0, 1 0))"),
      "POLYGON ((0 0, 0 2, 1 2, 2 2, 2 0, 1 0, 0 0))"),
    ("disjoint pieces",
      Seq("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "POLYGON ((2 0, 2 1, 3 1, 3 0, 2 0))"),
      "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((2 0, 2 1, " +
        "3 1, 3 0, 2 0)))"))

  def read(wkt: String): Geometry = new WKTReader().read(wkt)

  /** What map2db keeps of the clip `c` of `g`: a POI as clipped, a line
    * or area the linear / polygonal part, normalized; None when nothing
    * is kept. */
  def keep(g: Geometry, c: Geometry): Option[Geometry] =
    if (c.isEmpty) None
    else (g.getDimension match {
      case 0 => Some(c)
      case 1 => GeomOps.keepLinear(c)
      case _ => GeomOps.keepPolygonal(c)
    }).map(GeomOps.normalized)

  def kept(g: Geometry, c: Geometry): String =
    keep(g, c).fold("NONE")(_.toText)
}
