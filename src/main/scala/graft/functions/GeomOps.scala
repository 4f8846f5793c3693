package graft.functions

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.overlayng.OverlayNG

import scala.jdk.CollectionConverters._

/** Geometry kernel on JTS (SURVEY.md §2c).
  *
  * shapely (the reference's geometry library) is a binding to GEOS,
  * the C++ port of JTS — so these are the same algorithms the
  * reference runs, JVM-native. All functions are pure and
  * serializable-safe (the factory is per-call or static), called row by
  * row inside Spark tasks, e.g. by map2db's merge walk once a shuffle
  * has co-located a feature's fragments.
  */
object GeomOps {
  private val gf = new GeometryFactory(new PrecisionModel(), 4326)
  /** microdegree grid — the reference's grid_size=0.000001
    * (map2db.py:846,912,1018). */
  private val microGridScale = 1e6

  // ---- constructors -------------------------------------------------
  def point(x: Double, y: Double): Point = gf.createPoint(new Coordinate(x, y))

  def multiPoint(pts: Seq[(Double, Double)]): MultiPoint =
    gf.createMultiPoint(
      pts.map(p => gf.createPoint(new Coordinate(p._1, p._2))).toArray)

  def lineString(pts: Seq[(Double, Double)]): LineString =
    gf.createLineString(pts.map(p => new Coordinate(p._1, p._2)).toArray)

  def multiLineString(lines: Seq[Seq[(Double, Double)]]): MultiLineString =
    gf.createMultiLineString(lines.map(lineString).toArray)

  def polygon(shell: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]] = Nil): Polygon =
    gf.createPolygon(
      gf.createLinearRing(shell.map(p => new Coordinate(p._1, p._2)).toArray),
      holes.map(h => gf.createLinearRing(
        h.map(p => new Coordinate(p._1, p._2)).toArray)).toArray)

  def multiPolygon(polys: Seq[Polygon]): MultiPolygon =
    gf.createMultiPolygon(polys.toArray)

  def box(minX: Double, minY: Double, maxX: Double, maxY: Double): Geometry = {
    val e = new Envelope(minX, maxX, minY, maxY)
    gf.toGeometry(e)
  }

  // ---- WKB ----------------------------------------------------------
  def toWkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  def fromWkb(b: Array[Byte]): Geometry = new WKBReader(gf).read(b)

  // ---- reference operations ----------------------------------------
  /** `tile_box.intersection(geom, grid_size=1e-6)` (map2db.py:846,912,
    * 1018): an `OverlayNG` intersection with the box under a fixed 1e-6
    * `PrecisionModel`, i.e. snap rounding (Hobby 1999) on the
    * microdegree grid. A line or area the box covers comes back as is
    * (map2db.py:907 skips that clip).
    *
    * [[TileClip]] answers first the clips it can certify equal to the
    * overlay; the rest run the overlay. Snap rounding only moves a
    * segment that passes through the hot pixel (the half-open pixel
    * square) of a vertex or an intersection, so the certificate is:
    *
    *  - every vertex and box corner is on the grid (`x ==
    *    Math.round(x * 1e6) / 1e6`, JTS's `HotPixel` rounding);
    *  - a single point is rounded and kept when in the closed box;
    *  - a line or a hole-free polygon (one part) keeps every vertex more
    *    than 1 px from the box boundary, every segment more than 1 px
    *    from the box corners, and every two segments near the box (all
    *    of a polygon's) more than 1 px apart, adjacent ones away from
    *    their shared vertex; so each crossing of the boundary is a proper
    *    crossing of an edge interior;
    *  - each crossing is an exact rational whose `Math.round` is more
    *    than 1e-5 px × (1 + slope) from a half pixel, and the grid point
    *    it rounds to is more than 1 px from every other such segment.
    *
    * Then the overlay's only nodes in the box are the vertices, the
    * corners and the rounded crossings. A line's answer is one
    * `LineString` per inside run, a closed line's run through its first
    * vertex (a graph node) in two; a polygon's is the box or nothing with
    * no crossing,
    * and with two the inside run closed along the box boundary through
    * the corners on the polygon's side. Everything else (holes, more
    * crossings, touches, collinear runs along an edge, self-intersections,
    * off-grid input) runs the overlay. */
  def clipToBox(g: Geometry, minX: Double, minY: Double, maxX: Double,
      maxY: Double): Geometry = {
    val certified = TileClip.clip(g, minX, minY, maxX, maxY)
    if (certified != null) certified
    else OverlayNG.overlay(g, box(minX, minY, maxX, maxY),
      OverlayNG.INTERSECTION, new PrecisionModel(microGridScale))
  }

  /** shapely make_valid (map2db.py:984), incl. the reference's
    * "collect only polygons from a collection" fallback (988-1003):
    * returns None-equivalent (empty) when nothing polygonal remains. */
  def makeValidPolygonal(g: Geometry): Option[Geometry] = {
    if (g.isValid) return Some(g)
    val fixed = GeometryFixer.fix(g)
    val polys = extractPolygons(fixed)
    if (polys.isEmpty) None
    else {
      val mp = multiPolygon(polys)
      if (mp.isValid) Some(mp) else None
    }
  }

  def extractPolygons(g: Geometry): Seq[Polygon] = g match {
    case p: Polygon => Seq(p)
    case mp: MultiPolygon =>
      (0 until mp.getNumGeometries).map(mp.getGeometryN(_).asInstanceOf[Polygon])
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).map(gc.getGeometryN)
        .flatMap(extractPolygons)
    case _ => Nil
  }

  def extractLines(g: Geometry): Seq[LineString] = g match {
    case l: LineString => Seq(l)
    case ml: MultiLineString =>
      (0 until ml.getNumGeometries)
        .map(ml.getGeometryN(_).asInstanceOf[LineString])
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).map(gc.getGeometryN).flatMap(extractLines)
    case _ => Nil
  }

  /** Post-clip filtering for the lines table: keep only linear parts,
    * discard point intersections (map2db.py:918-930). */
  def keepLinear(g: Geometry): Option[Geometry] = {
    val ls = extractLines(g)
    if (ls.isEmpty) None
    else if (ls.size == 1) Some(ls.head)
    else Some(gf.createMultiLineString(ls.toArray))
  }

  /** Post-clip filtering for the areas table (map2db.py:1024-1036). */
  def keepPolygonal(g: Geometry): Option[Geometry] = {
    val ps = extractPolygons(g)
    if (ps.isEmpty) None
    else if (ps.size == 1) Some(ps.head)
    else Some(multiPolygon(ps))
  }

  def normalized(g: Geometry): Geometry = { val c = g.copy(); c.normalize(); c }

  /** Douglas–Peucker simplification (JTS) — the zoom-dependent
    * geometry thinning a tile renderer applies before encoding lower
    * zoom levels (fewer vertices per on-screen pixel; shapely's
    * `simplify(preserve_topology=False)` is this class). Vertices of
    * the result are a subset of the input's; endpoints are kept;
    * max deviation ≤ tol. */
  def simplify(g: Geometry, tol: Double): Geometry =
    org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(g, tol)

  /** Topology-preserving variant (shapely `preserve_topology=True`,
    * the default map2db-style choice for polygons — rings can't
    * collapse or self-cross under it). */
  def simplifyPreserving(g: Geometry, tol: Double): Geometry =
    org.locationtech.jts.simplify.TopologyPreservingSimplifier
      .simplify(g, tol)

  def union(a: Geometry, b: Geometry): Geometry = a.union(b)

  /** N-way union of a feature's fragments (map2db.py:776-784): JTS's
    * `UnaryUnionOp`, whose classic overlay nodes every segment pair,
    * keeps every vertex of the edges it outputs and dissolves shared
    * edges.
    *
    * [[TileUnion]] answers first the unions it can prove equal to the
    * overlay's; the rest run the overlay. Every coordinate must be finite
    * and not -0.0, and no part may repeat a vertex consecutively. Then:
    *
    *  - lines: every part is open. Two segments of different parts meet
    *    only at a point that is an end vertex of both parts; within a
    *    part, only adjacent segments meet, at their shared vertex. The
    *    overlay makes no new node, so the answer is the parts themselves;
    *  - areas: every piece is hole-free, every shell turns the same way
    *    and no directed segment occurs twice. A segment whose reverse is
    *    in another piece cancels with it; any other contact between
    *    pieces is at a vertex of both, and within a piece only adjacent
    *    segments meet. The segments left must form exactly one cycle,
    *    each vertex with one edge in and one out. Their chain then bounds
    *    the union (the pieces' indicator functions sum to the cycle's),
    *    and the answer is that polygon. A valid coverage dissolves by
    *    this edge matching, as JTS's `CoverageUnion` does.
    *
    * Everything else runs the overlay: points, mixed dimensions, holes,
    * closed lines, T-junctions, crossings, collinear overlaps, pieces
    * touching at a single point and remainders of several cycles (a
    * hole, or disjoint parts). */
  def unionAll(gs: Seq[Geometry]): Geometry = {
    val certified = TileUnion.union(gs)
    if (certified != null) certified
    else {
      val coll = new java.util.ArrayList[Geometry](gs.size)
      gs.foreach(coll.add)
      org.locationtech.jts.operation.union.UnaryUnionOp.union(coll)
    }
  }

  /** JTS linemerge — shapely's linemerge is this class. */
  def lineMerge(g: Geometry): Geometry = {
    val merger = new LineMerger()
    merger.add(g)
    val merged = merger.getMergedLineStrings.asScala.toSeq
      .map(_.asInstanceOf[LineString])
    if (merged.size == 1) merged.head
    else gf.createMultiLineString(merged.toArray)
  }

  /** The reference's full line-merge pass (map2db.py:1080-1171):
    * linemerge; if still multi-part, snap each part's endpoints to
    * matching endpoints of preceding parts within tol (2.1
    * microdegrees), then linemerge again. Returns the improved
    * geometry only when the part count dropped (map2db.py:1163-1171),
    * else the input unchanged. */
  def mergeLineFeature(g: Geometry, tol: Double = 0.0000021): Geometry = {
    g match {
      case ml: MultiLineString if ml.getNumGeometries > 1 =>
        val gcount = ml.getNumGeometries
        var merged = lineMerge(ml)
        if (merged.isInstanceOf[MultiLineString] &&
          merged.getNumGeometries > 1) {
          val coords = merged.asInstanceOf[MultiLineString] match {
            case m =>
              (0 until m.getNumGeometries)
                .map(m.getGeometryN(_).asInstanceOf[LineString])
                .map(_.getCoordinateSequence.toCoordinateArray.toBuffer)
                .toArray
          }
          for (i <- 1 until coords.length; j <- 0 until i) {
            val ci = coords(i); val cj = coords(j)
            if (math.abs(ci.head.x - cj.last.x) <= tol &&
              math.abs(ci.head.y - cj.last.y) <= tol)
              ci(0) = new Coordinate(cj.last)
            if (math.abs(ci.last.x - cj.head.x) <= tol &&
              math.abs(ci.last.y - cj.head.y) <= tol)
              ci(ci.length - 1) = new Coordinate(cj.head)
          }
          merged = lineMerge(gf.createMultiLineString(
            coords.map(c => gf.createLineString(c.toArray))))
        }
        if (merged.isInstanceOf[LineString] ||
          merged.getNumGeometries < gcount) normalized(merged)
        else g
      case other => other
    }
  }
}
