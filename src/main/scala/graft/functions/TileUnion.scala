package graft.functions

import org.locationtech.jts.algorithm.{Orientation, RobustLineIntersector}
import org.locationtech.jts.geom._

/** The exact kernel in front of [[GeomOps.unionAll]]'s `UnaryUnionOp`:
  * it answers a union of a feature's tile fragments when it can prove
  * the answer equal to the classic overlay's, or declines with null. The
  * certificate is stated on `unionAll`.
  *
  * Every part's segments go into flat arrays. One sweep, in order of
  * the segments' left ends, visits each pair whose boxes meet and tests
  * it with JTS's `RobustLineIntersector`, the test the overlay's noder
  * runs on the same pairs, so the kernel sees exactly the nodes the
  * overlay would find.
  */
private[graft] object TileUnion {

  def union(gs: Seq[Geometry]): Geometry = {
    val parts = new java.util.ArrayList[Geometry]
    var dim = 0
    val it = gs.iterator
    while (it.hasNext) {
      val g = it.next()
      var i = 0
      while (i < g.getNumGeometries) {
        val p = g.getGeometryN(i)
        val d = p match {
          case _: LineString => 1
          case q: Polygon if q.getNumInteriorRing == 0 => 2
          case _ => -1
        }
        if (d < 0 || p.isEmpty || (dim != 0 && d != dim)) return null
        dim = d; parts.add(p); i += 1
      }
    }
    if (parts.isEmpty) null
    else new Segs(parts, rings = dim == 2).union()
  }

  /** The segments of `parts`: each line's, or each polygon shell's. */
  private final class Segs(parts: java.util.ArrayList[Geometry],
      rings: Boolean) {
    private val chains = Array.tabulate(parts.size)(p => parts.get(p) match {
      case l: LineString => l.getCoordinateSequence
      case q: Polygon => q.getExteriorRing.getCoordinateSequence
    })
    private val n = chains.map(_.size - 1).sum
    // segment k runs a(k) → b(k); it is segment pos(k) of part(k)
    private val a, b = new Array[Coordinate](n)
    private val part, pos = new Array[Int](n)
    // a ring segment whose reverse is in another piece
    private val gone = new Array[Boolean](n)
    private val li = new RobustLineIntersector

    def union(): Geometry =
      if (!load() || !sweep()) null
      else if (rings) dissolve()
      else parts.get(0).getFactory.buildGeometry(parts)

    /** Fills the segments; false when a coordinate is not finite or is
      * -0.0, two consecutive vertices repeat, a line is closed or a ring
      * open, or a ring turns unlike the first. */
    private def load(): Boolean = {
      var k = 0
      var ccw = false
      var p = 0
      while (p < chains.length) {
        val cs = chains(p)
        val m = cs.size
        if (m < (if (rings) 4 else 2)) return false
        var i = 0
        while (i < m) {
          if (!plain(cs.getX(i)) || !plain(cs.getY(i))) return false
          i += 1
        }
        val closed = cs.getX(0) == cs.getX(m - 1) && cs.getY(0) == cs.getY(m - 1)
        if (closed != rings) return false
        if (rings) {
          val o = Orientation.isCCW(cs)
          if (p == 0) ccw = o else if (o != ccw) return false
        }
        i = 0
        while (i < m - 1) {
          a(k) = cs.getCoordinate(i); b(k) = cs.getCoordinate(i + 1)
          if (a(k).equals2D(b(k))) return false
          part(k) = p; pos(k) = i; k += 1; i += 1
        }
        p += 1
      }
      true
    }

    private def plain(v: Double): Boolean =
      !v.isNaN && !v.isInfinite && !(v == 0.0 && 1 / v < 0)

    /** Visits every pair of segments whose boxes meet, ordered by a
      * float lower bound of their left ends (the bound is why a pair's
      * boxes are still compared exactly); false at the first pair
      * [[contact]] rejects. */
    private def sweep(): Boolean = {
      val lo = Array.tabulate(n) { k =>
        val x = math.min(a(k).x, b(k).x)
        val f = x.toFloat
        if (f > x) Math.nextDown(f) else f
      }
      val order = Array.tabulate(n) { k =>
        val bits = java.lang.Float.floatToIntBits(lo(k))
        ((bits ^ ((bits >> 31) & 0x7fffffff)).toLong << 32) | k
      }
      java.util.Arrays.sort(order)
      var i = 0
      while (i < n) {
        val s = order(i).toInt
        val hi = math.max(a(s).x, b(s).x)
        var j = i + 1
        while (j < n && lo(order(j).toInt) <= hi) {
          val t = order(j).toInt
          if (boxesMeet(s, t) && !contact(s, t)) return false
          j += 1
        }
        i += 1
      }
      true
    }

    private def boxesMeet(s: Int, t: Int): Boolean =
      math.max(math.min(a(s).x, b(s).x), math.min(a(t).x, b(t).x)) <=
        math.min(math.max(a(s).x, b(s).x), math.max(a(t).x, b(t).x)) &&
        math.max(math.min(a(s).y, b(s).y), math.min(a(t).y, b(t).y)) <=
          math.min(math.max(a(s).y, b(s).y), math.max(a(t).y, b(t).y))

    /** Whether segments s and t may meet as they do without the overlay
      * making a node the answer lacks. A ring segment and its reverse in
      * another piece cancel. Within a part, only adjacent segments meet,
      * at their shared vertex. Two parts meet at single points only: for
      * lines an end vertex of both parts, for rings a vertex of both. */
    private def contact(s: Int, t: Int): Boolean = {
      if (a(s).equals2D(b(t)) && b(s).equals2D(a(t))) {
        if (!rings || part(s) == part(t) || gone(s) || gone(t)) return false
        gone(s) = true; gone(t) = true
        return true
      }
      li.computeIntersection(a(s), b(s), a(t), b(t))
      if (!li.hasIntersection) true
      else if (part(s) == part(t)) adjacent(s, t) && li.getIntersectionNum == 1
      else if (li.getIntersectionNum != 1 || li.isProper) false
      else {
        val x = li.getIntersection(0)
        if (rings) vertexOf(x, s) && vertexOf(x, t)
        else endOf(x, part(s)) && endOf(x, part(t))
      }
    }

    private def adjacent(s: Int, t: Int): Boolean = {
      val d = math.abs(pos(s) - pos(t))
      d == 1 || (rings && d == chains(part(s)).size - 2)
    }

    private def vertexOf(x: Coordinate, s: Int): Boolean =
      x.equals2D(a(s)) || x.equals2D(b(s))

    private def endOf(x: Coordinate, p: Int): Boolean = {
      val cs = chains(p)
      x.equals2D(cs.getCoordinate(0)) || x.equals2D(cs.getCoordinate(cs.size - 1))
    }

    /** The polygon bounded by the ring segments left after the cancelled
      * pairs, when they form one cycle; else null. */
    private def dissolve(): Geometry = {
      val from = new java.util.HashMap[Coordinate, Integer]
      var first = -1
      var left = 0
      var k = 0
      while (k < n) {
        if (!gone(k)) {
          if (from.put(a(k), k) != null) return null
          if (first < 0) first = k
          left += 1
        }
        k += 1
      }
      if (left == 0) return null
      val ring = new Array[Coordinate](left + 1)
      var s = first
      var i = 0
      while (i < left) {
        ring(i) = a(s).copy()
        val next = from.get(b(s))
        if (next == null) return null
        s = next
        i += 1
        if (s == first && i < left) return null
      }
      if (s != first) return null
      ring(left) = ring(0).copy()
      parts.get(0).getFactory.createPolygon(ring)
    }
  }
}
