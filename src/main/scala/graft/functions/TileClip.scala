package graft.functions

import java.util.ArrayList

import org.locationtech.jts.geom._

/** The exact kernel in front of [[GeomOps.clipToBox]]'s OverlayNG
  * overlay: it answers a clip it can certify equal to OverlayNG's, or
  * declines with null. The certificate is stated on `clipToBox`.
  *
  * Arithmetic is on integer microdegrees relative to the box's
  * lower-left corner, so the box is [0, w] × [0, h] and every grid
  * point is a Long. Crossings are exact rationals and distances are
  * doubles compared against 1 px, well clear of the 0.71 px reach of a
  * hot pixel.
  */
private[graft] object TileClip {
  private final val Scale = 1e6
  /** Larger coordinates decline: below it every product here fits a
    * Long. */
  private final val MaxAbs = 360.0
  /** Segments checked pairwise for clearance; more declines. */
  private final val MaxSegments = 64
  /** How far a crossing must round from a half pixel, in px per unit of
    * (1 + slope): ~20× the double error of JTS's intersection point. */
  private final val Margin = 1e-5
  private final val OffGrid = Long.MinValue

  /** JTS's grid rounding (PrecisionModel.makePrecise, HotPixel): the
    * index of the nearest microdegree, halves rounding up. */
  private def grid(v: Double): Long = Math.round(v * Scale)

  /** v's grid index when v lies on the grid, else OffGrid. */
  private def onGrid(v: Double): Long =
    if (!(math.abs(v) <= MaxAbs)) OffGrid
    else { val k = grid(v); if (k / Scale == v) k else OffGrid }

  def clip(g: Geometry, minX: Double, minY: Double, maxX: Double,
      maxY: Double): Geometry = {
    if (!(minX < maxX && minY < maxY) || g.isEmpty) return null
    val puntal = g.getDimension == 0
    val e = g.getEnvelopeInternal
    if (!puntal && minX <= e.getMinX && e.getMaxX <= maxX &&
      minY <= e.getMinY && e.getMaxY <= maxY) return g
    val x0 = onGrid(minX); val y0 = onGrid(minY)
    val x1 = onGrid(maxX); val y1 = onGrid(maxY)
    if (x0 == OffGrid || y0 == OffGrid || x1 == OffGrid || y1 == OffGrid)
      return null
    if (puntal) return g match {
      case _: Point | _: MultiPoint if g.getNumGeometries == 1 =>
        point(g, minX, minY, maxX, maxY)
      case _ => null
    }
    val box = new Box(x0, y0, x1 - x0, y1 - y0, g.getFactory)
    val part = g match {
      case m @ (_: MultiLineString | _: MultiPolygon)
          if m.getNumGeometries == 1 => m.getGeometryN(0)
      case other => other
    }
    part match {
      case l: LineString => box.line(l.getCoordinateSequence)
      case p: Polygon if p.getNumInteriorRing == 0 =>
        box.area(p.getExteriorRing.getCoordinateSequence)
      case _ => null
    }
  }

  /** A single point: rounded to the grid, kept when in the closed box,
    * as OverlayNG's mixed-point overlay answers. */
  private def point(g: Geometry, minX: Double, minY: Double, maxX: Double,
      maxY: Double): Geometry = {
    val c = g.getCoordinate
    if (!(math.abs(c.x) <= MaxAbs && math.abs(c.y) <= MaxAbs)) return null
    val x = grid(c.x) / Scale
    val y = grid(c.y) / Scale
    val f = g.getFactory
    if (minX <= x && x <= maxX && minY <= y && y <= maxY)
      f.createPoint(new Coordinate(x, y))
    else f.createPoint()
  }

  /** One clip of one chain (a line, or a polygon's shell) to the box at
    * grid index (ox, oy) with size w × h. */
  private final class Box(ox: Long, oy: Long, w: Long, h: Long,
      f: GeometryFactory) {
    // the chain's vertices, consecutive repeats dropped as OverlayNG's
    // noder drops them, and the side of the box each lies on
    private var xs, ys: Array[Long] = _
    private var sides: Array[Int] = _
    private var n = 0
    private var closed = false
    // boundary crossings in chain order: segment, grid point
    private var nc = 0
    private var cSeg: Array[Int] = _
    private var cX, cY: Array[Long] = _
    private var cT: Array[Double] = _

    def line(cs: CoordinateSequence): Geometry = {
      if (!load(cs) || !prepare(all = false)) return null
      val rs = runs()
      if (rs.isEmpty) f.createLineString()
      else if (rs.size == 1) f.createLineString(array(rs.get(0)))
      else f.createMultiLineString(
        Array.tabulate(rs.size)(i => f.createLineString(array(rs.get(i)))))
    }

    def area(cs: CoordinateSequence): Geometry = {
      if (!load(cs) || !closed || n < 4 || !prepare(all = true)) return null
      if (nc == 0)
        return if (inRing(0, 0)) f.createPolygon(Array(coord(0, 0),
          coord(w, 0), coord(w, h), coord(0, h), coord(0, 0)))
        else f.createPolygon()
      if (nc != 2) return null
      // the shell's one inside run enters at `in` and leaves at `out`
      // (through the first vertex it comes in two pieces: join them);
      // the box boundary closes it, turning the shell's way round
      val rs = runs()
      val shell = rs.get(rs.size - 1)
      if (rs.size == 2) shell.addAll(rs.get(0).subList(1, rs.get(0).size))
      val (in, out) = if (sides(0) == 1) (1, 0) else (0, 1)
      val ccw = isCcw
      val p = 2 * (w + h)
      val pOut = perimeter(cX(out), cY(out))
      def along(q: Long) =
        if (ccw) Math.floorMod(q - pOut, p) else Math.floorMod(pOut - q, p)
      val limit = along(perimeter(cX(in), cY(in)))
      // corners counter-clockwise from the lower left; walk them from
      // the first one past `out` until the one past `in`
      val kx = Array(0L, w, w, 0L); val ky = Array(0L, 0L, h, h)
      val before = (0 until 4).count(c => perimeter(kx(c), ky(c)) < pOut)
      var c = if (ccw) before % 4 else (before + 3) % 4
      var added = 0
      while (added < 4 && along(perimeter(kx(c), ky(c))) < limit) {
        shell.add(coord(kx(c), ky(c)))
        c = if (ccw) (c + 1) % 4 else (c + 3) % 4
        added += 1
      }
      shell.add(shell.get(0))
      f.createPolygon(array(shell))
    }

    private def array(cs: ArrayList[Coordinate]): Array[Coordinate] =
      cs.toArray(new Array[Coordinate](cs.size))

    private def coord(x: Long, y: Long): Coordinate =
      new Coordinate((ox + x) / Scale, (oy + y) / Scale)

    /** Reads the chain; false when a vertex is off the grid or fewer
      * than two distinct vertices remain. */
    private def load(cs: CoordinateSequence): Boolean = {
      val m = cs.size
      xs = new Array[Long](m); ys = new Array[Long](m)
      var i = 0
      while (i < m) {
        val x = onGrid(cs.getX(i)); val y = onGrid(cs.getY(i))
        if (x == OffGrid || y == OffGrid) return false
        if (n == 0 || x - ox != xs(n - 1) || y - oy != ys(n - 1)) {
          xs(n) = x - ox; ys(n) = y - oy; n += 1
        }
        i += 1
      }
      closed = n > 1 && xs(0) == xs(n - 1) && ys(0) == ys(n - 1)
      n >= 2
    }

    /** 1 inside, -1 outside, 0 within 1 px of the boundary (declines). */
    private def side(x: Long, y: Long): Int =
      if (x <= -2 || x >= w + 2 || y <= -2 || y >= h + 2) -1
      else if (x >= 2 && x <= w - 2 && y >= 2 && y <= h - 2) 1
      else 0

    /** Classifies the vertices and finds the crossings, then checks the
      * clearances the certificate needs: between the segments that come
      * near the box (`all`: between every segment), and between each
      * crossing and every other such segment. */
    private def prepare(all: Boolean): Boolean = {
      sides = new Array[Int](n)
      var i = 0
      while (i < n) {
        sides(i) = side(xs(i), ys(i))
        if (sides(i) == 0) return false
        i += 1
      }
      cSeg = new Array[Int](2 * n); cT = new Array[Double](2 * n)
      cX = new Array[Long](2 * n); cY = new Array[Long](2 * n)
      i = 0
      while (i < n - 1) {
        if ((sides(i) != 1 || sides(i + 1) != 1) && !crossings(i))
          return false
        i += 1
      }
      if (nc == 0 && !all) return true
      val idx = new Array[Int](n - 1)
      var m = 0
      i = 0
      while (i < n - 1) {
        if (all || nearBox(i)) {
          if (m == MaxSegments) return false
          idx(m) = i; m += 1
        }
        i += 1
      }
      apart(idx, m) && crossingsClear(idx, m)
    }

    private def nearBox(i: Int): Boolean =
      math.max(xs(i), xs(i + 1)) >= -2 && math.min(xs(i), xs(i + 1)) <= w + 2 &&
        math.max(ys(i), ys(i + 1)) >= -2 && math.min(ys(i), ys(i + 1)) <= h + 2

    /** Adds segment i's boundary crossings in order along it; false when
      * it passes within 1 px of a corner or a crossing's rounding is not
      * certain. */
    private def crossings(i: Int): Boolean = {
      if (!clear(0, 0, i) || !clear(w, 0, i) || !clear(w, h, i) ||
        !clear(0, h, i)) return false
      val first = nc
      val ax = xs(i); val ay = ys(i); val bx = xs(i + 1); val by = ys(i + 1)
      if (!edge(i, ax, ay, bx, by, 0, h, vertical = true) ||
        !edge(i, ax, ay, bx, by, w, h, vertical = true) ||
        !edge(i, ay, ax, by, bx, 0, w, vertical = false) ||
        !edge(i, ay, ax, by, bx, h, w, vertical = false)) return false
      if (nc - first == 2 && cT(first) > cT(first + 1)) {
        val (s, x, y, t) = (cSeg(first), cX(first), cY(first), cT(first))
        cSeg(first) = cSeg(nc - 1); cX(first) = cX(nc - 1)
        cY(first) = cY(nc - 1); cT(first) = cT(nc - 1)
        cSeg(nc - 1) = s; cX(nc - 1) = x; cY(nc - 1) = y; cT(nc - 1) = t
      }
      true
    }

    /** The crossing of segment (a, b) with the edge u = `at`, 0 < v <
      * `span`, in (u, v) coordinates (u = x for a vertical edge). It is
      * the exact rational v = num / den; its grid point rounds it as
      * `Math.round` does. False when that rounding is within the margin
      * of a half pixel. */
    private def edge(i: Int, au: Long, av: Long, bu: Long, bv: Long,
        at: Long, span: Long, vertical: Boolean): Boolean = {
      val a = au - at; val b = bu - at
      if (!(a < 0 && b > 0 || a > 0 && b < 0)) return true
      var num = av * b - bv * a; var den = b - a
      if (den < 0) { num = -num; den = -den }
      if (num <= 0 || num >= span * den) return true
      val twice = 2 * num + den
      val r = Math.floorMod(twice, 2 * den)
      if (math.min(r, 2 * den - r).toDouble <=
        2 * Margin * (den + math.abs(bv - av)).toDouble) return false
      val v = Math.floorDiv(twice, 2 * den)
      cSeg(nc) = i; cT(nc) = a.toDouble / (a - b)
      if (vertical) { cX(nc) = at; cY(nc) = v } else { cX(nc) = v; cY(nc) = at }
      nc += 1
      true
    }

    /** Whether (px, py) is more than 1 px from segment i. */
    private def clear(px: Long, py: Long, i: Int): Boolean = {
      val ax = xs(i); val ay = ys(i); val bx = xs(i + 1); val by = ys(i + 1)
      if (px < math.min(ax, bx) - 1 || px > math.max(ax, bx) + 1 ||
        py < math.min(ay, by) - 1 || py > math.max(ay, by) + 1) return true
      val dx = (bx - ax).toDouble; val dy = (by - ay).toDouble
      val qx = (px - ax).toDouble; val qy = (py - ay).toDouble
      val t = math.max(0.0, math.min(1.0, (qx * dx + qy * dy) /
        (dx * dx + dy * dy)))
      val ex = t * dx - qx; val ey = t * dy - qy
      ex * ex + ey * ey > 1.0
    }

    /** Whether vertex v is more than 1 px from segment i. */
    private def clearV(v: Int, i: Int): Boolean = clear(xs(v), ys(v), i)

    private def orient(a: Int, b: Int, c: Int): Long = java.lang.Long.signum(
      (xs(b) - xs(a)) * (ys(c) - ys(a)) - (ys(b) - ys(a)) * (xs(c) - xs(a)))

    /** Whether every two of the segments idx(0 until m) stay more than
      * 1 px apart, adjacent ones away from their shared vertex. */
    private def apart(idx: Array[Int], m: Int): Boolean = {
      val last = n - 2
      var a = 0
      while (a < m) {
        val i = idx(a)
        var b = a + 1
        while (b < m) {
          val j = idx(b)
          val ok =
            if (j == i + 1) clearV(i, j) && clearV(j + 1, i)
            else if (closed && i == 0 && j == last) clearV(1, j) && clearV(j, i)
            else !(orient(i, i + 1, j) * orient(i, i + 1, j + 1) < 0 &&
              orient(j, j + 1, i) * orient(j, j + 1, i + 1) < 0) &&
              clearV(i, j) && clearV(i + 1, j) && clearV(j, i) &&
              clearV(j + 1, i)
          if (!ok) return false
          b += 1
        }
        a += 1
      }
      true
    }

    /** Whether every crossing is more than 1 px from the segments
      * idx(0 until m) other than its own. */
    private def crossingsClear(idx: Array[Int], m: Int): Boolean = {
      var k = 0
      while (k < nc) {
        var a = 0
        while (a < m) {
          if (idx(a) != cSeg(k) && !clear(cX(k), cY(k), idx(a))) return false
          a += 1
        }
        k += 1
      }
      true
    }

    /** The chain's runs inside the box, each from a crossing or an end
      * vertex to the next: OverlayNG answers a line one edge of its
      * graph per `LineString`, and the chain's ends are nodes, so a
      * closed chain's run through its first vertex is two. */
    private def runs(): ArrayList[ArrayList[Coordinate]] = {
      val out = new ArrayList[ArrayList[Coordinate]]()
      var inside = sides(0) == 1
      var cur: ArrayList[Coordinate] = null
      if (inside) { cur = new ArrayList(); cur.add(coord(xs(0), ys(0))) }
      var k = 0
      var i = 0
      while (i < n - 1) {
        while (k < nc && cSeg(k) == i) {
          val c = coord(cX(k), cY(k))
          if (inside) { cur.add(c); out.add(cur); cur = null }
          else { cur = new ArrayList(); cur.add(c) }
          inside = !inside
          k += 1
        }
        if (inside) cur.add(coord(xs(i + 1), ys(i + 1)))
        i += 1
      }
      if (cur != null) out.add(cur)
      out
    }

    /** Even-odd test of a grid point more than 1 px from the ring. */
    private def inRing(px: Long, py: Long): Boolean = {
      var inside = false
      var i = 0
      while (i < n - 1) {
        val ax = xs(i); val ay = ys(i); val bx = xs(i + 1); val by = ys(i + 1)
        if ((ay > py) != (by > py) &&
          ((bx - ax) * (py - ay) - (px - ax) * (by - ay) > 0) == (by > ay))
          inside = !inside
        i += 1
      }
      inside
    }

    /** The simple ring's orientation, at its lowest-leftmost vertex. */
    private def isCcw: Boolean = {
      val m = n - 1
      var lo = 0
      var i = 1
      while (i < m) {
        if (ys(i) < ys(lo) || ys(i) == ys(lo) && xs(i) < xs(lo)) lo = i
        i += 1
      }
      orient((lo + m - 1) % m, lo, (lo + 1) % m) > 0
    }

    /** Position of a boundary grid point going counter-clockwise round
      * the box from its lower-left corner. */
    private def perimeter(x: Long, y: Long): Long =
      if (y == 0) x
      else if (x == w) w + y
      else if (y == h) w + h + (w - x)
      else 2 * w + h + (h - y)
  }
}
