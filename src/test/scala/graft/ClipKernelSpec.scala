package graft

import org.locationtech.jts.geom.{Geometry, PrecisionModel}
import org.locationtech.jts.operation.overlayng.OverlayNG
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeomOps, TileClip}
import graft.operators.MapPipeline
import graft.sources.Mapsforge

/** Differential spec for [[TileClip]], the exact kernel in front of
  * `GeomOps.clipToBox`: every clip it answers must give, after map2db's
  * own `keepLinear` / `keepPolygonal` → `normalized` → `toWkb`, the
  * bytes of the clip it replaces — the line or area as is when the box
  * covers it, else the `OverlayNG` snap-rounding overlay on the
  * microdegree grid. A kernel that always declines would pass that, so
  * each input set also bounds how much it must answer.
  */
class ClipKernelSpec extends AnyFunSuite {
  import ClipKernelSpec._

  test("kernel equals OverlayNG on every clip call of the crossing map") {
    import SparkTestSession.spark
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(41L, withAreas = true))
    val (pois, ways) = Mapsforge.scan(spark, path)
    val calls =
      pois.collect().toSeq.map(p => (MapPipeline.poiGeometry(p),
        MapPipeline.tileBox(p.level, p.tileX, p.tileY))) ++
        ways.collect().toSeq.flatMap(w => MapPipeline.wayGeometry(w)
          .map(_ -> MapPipeline.tileBox(w.level, w.tileX, w.tileY)))
    val answered = calls.count { case (g, b) => agree(g, b) }
    info(s"answered $answered of ${calls.size} clip calls")
    assert(calls.size > 100)
    assert(answered >= 0.85 * calls.size,
      s"answered $answered of ${calls.size}")
  }

  test("kernel equals OverlayNG on 100k seeded random lines and stars") {
    val rnd = new scala.util.Random(7L)
    val tally = Array.fill(2, 2)(0) // (line, area) × (crossing, answered)
    for (i <- 0 until 100000) {
      val b = randomBox(rnd)
      val area = i % 5 >= 3
      val g = if (area) star(rnd, b) else walk(rnd, b, sharp = i % 10 == 9)
      val answered = agree(g, b)
      val box = GeomOps.box(b._1, b._2, b._3, b._4)
      if (box.intersects(g) && !box.covers(g)) {
        val t = if (area) 1 else 0
        tally(t)(0) += 1
        if (answered) tally(t)(1) += 1
      }
    }
    val Array(Array(lines, linesAnswered), Array(areas, areasAnswered)) = tally
    info(s"answered $linesAnswered of $lines crossing lines, " +
      s"$areasAnswered of $areas crossing areas")
    assert(lines > 10000 && areas > 10000, tally.map(_.toSeq).toSeq)
    assert(linesAnswered >= 0.9 * lines,
      s"answered $linesAnswered of $lines crossing lines")
    assert(areasAnswered >= 0.5 * areas,
      s"answered $areasAnswered of $areas crossing areas")
  }

  test("kernel equals OverlayNG on adversarial cases") {
    val unit = (0.0, 0.0, 10.0, 10.0)
    for ((_, wkt, _) <- GeometrySpec.clipPins)
      agree(GeometrySpec.read(wkt), unit)
    // shapes the kernel answers: closed lines with their first vertex
    // inside and outside, repeated vertices, one segment through the
    // box, a polygon covering the box and one cutting a corner, each
    // ring both ways round
    val answered = Seq(
      GeomOps.lineString(Seq((5.0, 5.0), (-5.0, 5.0), (-5.0, 8.0), (5.0, 8.0),
        (5.0, 5.0))),
      GeomOps.lineString(Seq((-5.0, 5.0), (5.0, 5.0), (5.0, 8.0), (-5.0, 8.0),
        (-5.0, 5.0))),
      GeomOps.lineString(Seq((-5.0, 5.0), (5.0, 5.0), (5.0, 5.0), (5.0, 8.0),
        (15.0, 8.0))),
      GeomOps.lineString(Seq((-5.0, 1.0), (15.0, 3.0))),
      GeomOps.polygon(Seq((-5.0, -5.0), (15.0, -5.0), (15.0, 15.0),
        (-5.0, 15.0), (-5.0, -5.0))),
      GeomOps.polygon(Seq((-5.0, 6.0), (6.0, -5.0), (-5.0, -5.0), (-5.0, 6.0))),
      GeomOps.polygon(Seq((-5.0, 2.0), (5.0, 2.0), (5.0, 2.0), (5.0, 8.0),
        (-5.0, 8.0), (-5.0, 2.0))))
    for (g <- answered; h <- Seq(g, g.reverse))
      assert(agree(h, unit), h)
    // points at an exact half microdegree with an even grid index: a
    // half-even rounding sends them the other way
    def halves(from: Long): Seq[Double] = (from until from + 400 by 2)
      .collect { case k if (k + 0.5) / 1e6 * 1e6 == k + 0.5 => (k + 0.5) / 1e6 }
    val tile = (6.8, 51.4, 6.8004, 51.4004)
    val pois = halves(6800000L).map((_, 51.4002)) ++
      halves(51400000L).map((6.8002, _))
    assert(pois.size > 20)
    for (p <- pois) {
      val g = GeomOps.multiPoint(Seq(p))
      assert(agree(g, tile), g)
    }
    // vertices on, beside and 1-2 px either side of the border, and
    // shapes round the corners, at each edge of the box by symmetry
    for (d <- Seq(-2e-6, -1e-6, 0.0, 1e-6, 2e-6); s <- 0 until 4) {
      def at(pts: (Double, Double)*) = pts.map { case (x, y) => turn(s, x, y) }
      def ring(pts: (Double, Double)*) =
        GeomOps.polygon(at(pts :+ pts.head: _*))
      val cases = Seq(
        GeomOps.lineString(at((-5, 5), (d, 5), (5, 8))),
        GeomOps.lineString(at((5, 5), (d, 5), (-5, 8))),
        GeomOps.lineString(at((-5, 5), (d, 5), (-5, 8))),
        GeomOps.lineString(at((5, 2), (d, 5), (5, 8))),
        GeomOps.lineString(at((-5, d), (5, d), (5, 5))),
        GeomOps.lineString(at((-5, 5 + d), (5 + d, -5))),
        ring((-5, 2), (d, 5), (-5, 8)),
        ring((5, 2), (d, 5), (5, 8)),
        ring((-5, 2), (5, 2), (d, 5), (5, 8), (-5, 8)),
        ring((-5, -5), (5 + d, -5), (5 + d, 5), (-5, 5)),
        ring((-5, -5), (15, -5), (15, 15), (-5, 15)),
        ring((-5, -5), (-5, 15), (15, 15), (15, -5)))
      for (g <- cases) agree(g, unit)
    }
  }
}

object ClipKernelSpec {
  type Box = (Double, Double, Double, Double)
  private val pm = new PrecisionModel(1e6)

  /** map2db's bytes of a clip `c` of `g`; None when it keeps nothing. */
  def kept(g: Geometry, c: Geometry): Option[Seq[Byte]] =
    GeometrySpec.keep(g, c).map(GeomOps.toWkb(_).toSeq)

  /** Checks the kernel against the clip it replaces; true when it
    * answered. */
  def agree(g: Geometry, b: Box): Boolean = {
    val answer = TileClip.clip(g, b._1, b._2, b._3, b._4)
    if (answer == null) false
    else {
      val box = GeomOps.box(b._1, b._2, b._3, b._4)
      val want =
        if (g.getDimension > 0 && box.covers(g)) g
        else OverlayNG.overlay(g, box, OverlayNG.INTERSECTION, pm)
      assert(kept(g, answer) == kept(g, want),
        s"clip of ${g.toText} to $b: kernel ${answer.toText}, " +
          s"OverlayNG ${want.toText}")
      true
    }
  }

  private def grid(v: Double): Double = math.rint(v * 1e6) / 1e6

  /** A level 10-14 tile of the Rhine-Ruhr box. */
  def randomBox(rnd: scala.util.Random): Box = {
    val z = 10 + rnd.nextInt(5)
    val x = Mapsforge.xFromLon(z, 6.6 + rnd.nextDouble()).toLong
    val y = Mapsforge.yFromLat(z, 51.3 + 0.3 * rnd.nextDouble()).toLong
    MapPipeline.tileBox(z, x, y)
  }

  /** A 2-7 vertex on-grid walk with steps of about a box width near the
    * box, turning up to 60 degrees a vertex (any turn when `sharp`);
    * one in eight walks returns to its start. */
  def walk(rnd: scala.util.Random, b: Box, sharp: Boolean): Geometry = {
    val size = b._3 - b._1
    var x = b._1 + (rnd.nextDouble() * 2 - 0.5) * size
    var y = b._2 + (rnd.nextDouble() * 2 - 0.5) * (b._4 - b._2)
    var heading = rnd.nextDouble() * 2 * math.Pi
    val pts = Seq.newBuilder[(Double, Double)]
    pts += ((grid(x), grid(y)))
    for (_ <- 1 until 2 + rnd.nextInt(6)) {
      heading += (rnd.nextDouble() - 0.5) * (if (sharp) 2 else 2.0 / 3) *
        math.Pi
      val step = size * (0.2 + 0.8 * rnd.nextDouble())
      x += step * math.cos(heading); y += step * math.sin(heading)
      pts += ((grid(x), grid(y)))
    }
    val walked = pts.result()
    GeomOps.multiLineString(Seq(
      if (walked.size > 2 && rnd.nextInt(8) == 0) walked :+ walked.head
      else walked))
  }

  /** A 5-10 vertex on-grid ring star-shaped about a point near the box,
    * one vertex per equal sector, either way round. */
  def star(rnd: scala.util.Random, b: Box): Geometry = {
    val (w, h) = (b._3 - b._1, b._4 - b._2)
    val (cx, cy) = (b._1 + (rnd.nextDouble() * 1.6 - 0.3) * w,
      b._2 + (rnd.nextDouble() * 1.6 - 0.3) * h)
    val k = 5 + rnd.nextInt(6)
    val open = (0 until k).map { i =>
      val a = 2 * math.Pi * (i + 0.1 + 0.8 * rnd.nextDouble()) / k
      val r = w * (0.2 + 0.7 * rnd.nextDouble())
      (grid(cx + r * math.cos(a)), grid(cy + r * math.sin(a)))
    }.distinct
    val ring = if (rnd.nextBoolean()) open.reverse else open
    GeomOps.multiPolygon(Seq(GeomOps.polygon(ring :+ ring.head)))
  }

  /** (x, y) turned by `s` quarter turns about (5, 5), on the grid. */
  def turn(s: Int, x: Double, y: Double): (Double, Double) = {
    val (u, v) = (0 until s).foldLeft((x - 5, y - 5)) {
      case ((a, c), _) => (-c, a)
    }
    (grid(u + 5), grid(v + 5))
  }
}
