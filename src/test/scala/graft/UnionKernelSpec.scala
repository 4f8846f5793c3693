package graft

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeomOps, TileUnion}
import graft.operators.MapPipeline
import graft.sources.Mapsforge

/** Differential spec for [[TileUnion]], the exact kernel in front of
  * `GeomOps.unionAll`: every union it answers must give, after map2db's
  * `normalized` → `toWkb`, the bytes of JTS's `UnaryUnionOp`, and for a
  * line feature the same bytes after `mergeLineFeature` too. A kernel that
  * always declines would pass that, so the random inputs also bound how
  * much it must answer.
  */
class UnionKernelSpec extends AnyFunSuite {
  import UnionKernelSpec._

  test("kernel equals the overlay on every union group of the crossing maps") {
    import SparkTestSession.spark
    var (groups, answered) = (0, 0)
    for (seed <- Seq(41L, 43L)) {
      val path = MapEncoder.writeToTemp(
        FusedBuildSpec.crossingMap(seed, withAreas = true))
      val (pois, ways) = Mapsforge.scan(spark, path)
      val tables = Seq(MapPipeline.pointFeatures(pois),
        MapPipeline.lineFeatures(ways), MapPipeline.areaFeatures(ways))
      for ((feats, t) <- tables.zipWithIndex;
          (_, fs) <- feats.collect().groupBy(_.fid)) {
        val top = fs.map(_.level).max
        val frags = fs.toSeq.filter(_.level == top).map(f => GeomOps.fromWkb(f.wkb))
        if (frags.size > 1) {
          groups += 1
          if (agree(frags, line = t == 1)) answered += 1
        }
      }
    }
    info(s"answered $answered of $groups union groups")
    assert(groups > 30)
    assert(answered >= 0.6 * groups, s"answered $answered of $groups")
  }

  test("kernel equals the overlay on 48k seeded random walks and stars " +
    "cut per tile") {
    val rnd = new scala.util.Random(11L)
    val tally = Array.fill(2, 2)(0) // (line, area) × (groups, answered)
    for (i <- 0 until 48000) {
      val tiles = randomBlock(rnd)
      val block = (tiles.map(_._1).min, tiles.map(_._2).min,
        tiles.map(_._3).max, tiles.map(_._4).max)
      // a third stars; one walk in ten turns sharply, and may cross itself
      val area = i % 3 == 2
      val g =
        if (area) ClipKernelSpec.star(rnd, block)
        else ClipKernelSpec.walk(rnd, block, sharp = i % 10 == 0)
      val frags = fragments(g, tiles)
      if (frags.size > 1) {
        val t = if (area) 1 else 0
        tally(t)(0) += 1
        if (agree(frags, line = !area)) tally(t)(1) += 1
      }
    }
    val Array(Array(lines, linesAnswered), Array(areas, areasAnswered)) = tally
    info(s"answered $linesAnswered of $lines line groups, " +
      s"$areasAnswered of $areas area groups")
    assert(lines > 8000 && areas > 8000, tally.map(_.toSeq).toSeq)
    assert(linesAnswered >= 0.95 * lines,
      s"answered $linesAnswered of $lines line groups")
    assert(areasAnswered >= 0.8 * areas,
      s"answered $areasAnswered of $areas area groups")
  }

  test("kernel declines what the overlay must node or cannot dissolve") {
    for ((name, parts, _) <- GeometrySpec.unionPins)
      assert(TileUnion.union(parts.map(GeometrySpec.read)) == null, name)
    val declined = Seq(
      Seq("POINT (0 0)", "POINT (1 1)"),
      Seq("LINESTRING (0 0, 1 0)", "POLYGON ((1 0, 1 1, 2 1, 2 0, 1 0))"),
      // a T-junction off any vertex, a line touching another's middle
      Seq("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 1 1)"),
      // a repeated vertex; a self-crossing part
      Seq("LINESTRING (0 0, 1 0, 1 0, 2 0)", "LINESTRING (2 0, 3 0)"),
      Seq("LINESTRING (0 0, 2 2, 2 0, 0 2)", "LINESTRING (0 2, -1 3)"),
      // lines meeting where one has a negative zero, the other a zero
      Seq("LINESTRING (-0 0, 1 0)", "LINESTRING (0 1, 0 0)"),
      // shells turning opposite ways
      Seq("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))"),
      // a piece covering another along a shared edge
      Seq("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))",
        "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"),
      // a piece's corner on another's edge
      Seq("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))",
        "POLYGON ((2 1, 3 2, 3 0, 2 1))"),
      // the same T-junction where the rest dissolves to one cycle: the
      // overlay nodes (1 1) and leaves a hole
      Seq("POLYGON ((0 0, 0 1, 3 1, 4 1, 4 0, 0 0))",
        "POLYGON ((3 1, 3 2, 3 3, 4 3, 4 1, 3 1))",
        "POLYGON ((1 1, 2 3, 3 3, 3 2, 1 1))"))
    for (parts <- declined) {
      val gs = parts.map(GeometrySpec.read)
      assert(TileUnion.union(gs) == null, parts)
      agree(gs, line = gs.head.getDimension == 1)
    }
    // shapes the kernel answers: a chain of lines, four quadrants round
    // a point, a coverage with collinear boundary vertices, each ring
    // either way round, and one piece alone
    val answered = Seq(
      Seq("LINESTRING (0 0, 1 0)", "LINESTRING (1 0, 1 1, 2 1)",
        "LINESTRING (3 3, 2 1)", "LINESTRING (3 3, 4 3)"),
      Seq("LINESTRING (0 0, 1 0)", "LINESTRING (1 0, 2 0)",
        "LINESTRING (1 0, 1 1)"),
      Seq("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "POLYGON ((1 0, 1 1, 2 1, 2 0, 1 0))",
        "POLYGON ((0 1, 0 2, 1 2, 1 1, 0 1))",
        "POLYGON ((1 1, 1 2, 2 2, 2 1, 1 1))"),
      Seq("POLYGON ((0 0, 0 1, 0 2, 1 2, 1 1, 1 0, 0 0))",
        "POLYGON ((1 0, 1 1, 1.5 1, 2 1, 2 0, 1 0))",
        "POLYGON ((1 1, 1 2, 2 2, 2 1, 1.5 1, 1 1))"),
      Seq("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"))
    for (parts <- answered; reversed <- Seq(false, true)) {
      val gs = parts.map(GeometrySpec.read).map(g => if (reversed) g.reverse else g)
      assert(agree(gs, line = gs.head.getDimension == 1), parts)
    }
  }
}

object UnionKernelSpec {
  type Box = ClipKernelSpec.Box

  /** map2db's bytes of a merged geometry, after `mergeLineFeature` too
    * for a line feature. */
  private def bytes(g: Geometry, line: Boolean): (Seq[Byte], Seq[Byte]) = {
    val n = GeomOps.normalized(g)
    (GeomOps.toWkb(n).toSeq,
      if (line) GeomOps.toWkb(GeomOps.mergeLineFeature(n)).toSeq else Nil)
  }

  /** Checks the kernel against the overlay it replaces; true when it
    * answered. */
  def agree(frags: Seq[Geometry], line: Boolean): Boolean = {
    val answer = TileUnion.union(frags)
    if (answer == null) false
    else {
      val coll = new java.util.ArrayList[Geometry]
      frags.foreach(coll.add)
      val want = UnaryUnionOp.union(coll)
      assert(bytes(answer, line) == bytes(want, line),
        s"union of ${frags.map(_.toText)}: kernel ${answer.toText}, " +
          s"overlay ${want.toText}")
      true
    }
  }

  /** The 2×2 to 3×3 block of level 10-14 tiles at a random spot of the
    * Rhine-Ruhr box, as tile boxes. */
  def randomBlock(rnd: scala.util.Random): Seq[Box] = {
    val z = 10 + rnd.nextInt(5)
    val x = Mapsforge.xFromLon(z, 6.6 + rnd.nextDouble()).toLong
    val y = Mapsforge.yFromLat(z, 51.3 + 0.3 * rnd.nextDouble()).toLong
    val span = 2 + rnd.nextInt(2)
    for (dx <- 0 until span; dy <- 0 until span)
      yield MapPipeline.tileBox(z, x + dx, y + dy)
  }

  /** `g` cut per tile as map2db cuts it: the clip's linear or polygonal
    * part, normalized, read back from its WKB. */
  def fragments(g: Geometry, tiles: Seq[Box]): Seq[Geometry] =
    tiles.flatMap { b =>
      GeometrySpec.keep(g, GeomOps.clipToBox(g, b._1, b._2, b._3, b._4))
    }.map(f => GeomOps.fromWkb(GeomOps.toWkb(f)))
}
