package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.MapEncoder

class FleetGenSpec extends AnyFunSuite {

  test("the same seed gives the same maps and expectations") {
    for (i <- FleetGen.Sizes.indices) {
      val (a, ea, na) = FleetGen.spec(7L, i, FleetGen.Sizes(i))
      val (b, eb, nb) = FleetGen.spec(7L, i, FleetGen.Sizes(i))
      assert(MapEncoder.encode(a).sameElements(MapEncoder.encode(b)))
      assert(ea == eb && na == nb)
    }
  }

  test("another seed gives other maps") {
    val a = MapEncoder.encode(FleetGen.spec(7L, 0, 1)._1)
    val b = MapEncoder.encode(FleetGen.spec(8L, 0, 1)._1)
    assert(!a.sameElements(b))
  }

  test("features cross tiles and levels, as map2db's merge needs") {
    val (spec, expect, nonEmpty) = FleetGen.spec(11L, 1, 2)
    val Seq(lo, hi) = spec.subfiles
    assert(lo.level == FleetGen.Lo && hi.level == FleetGen.Hi)
    assert(nonEmpty == lo.tiles.size + hi.tiles.size)
    // a line or area id stored in several fine tiles was cut by borders
    def idsPerTile(tagIdx: Int) = hi.tiles.flatMap(_.ways
      .filter(_.tagIdx.contains(tagIdx)).map(_.vtagValues.head))
    for (idTag <- Seq(2, 5)) {
      val counts = idsPerTile(idTag).groupBy(identity).values.map(_.size)
      assert(counts.count(_ > 1) > counts.size / 2)
    }
    // points, lines and areas are repeated in the coarse subfile
    assert(lo.tiles.exists(_.pois.nonEmpty))
    assert(lo.tiles.exists(_.ways.exists(_.tagIdx.contains(2))))
    assert(lo.tiles.exists(_.ways.exists(_.tagIdx.contains(5))))
    assert(expect.points.values.exists(_._2 < 11))
    assert(expect.points.size == FleetGen.PoisPerUnit * 2)
    assert(expect.lines.size == FleetGen.LinesPerUnit * 2)
    assert(expect.areas.size == FleetGen.AreasPerUnit * 2)
    assert(expect.lines.values.forall(m => m.value > 0 && m.tol < m.value * 1e-3))
    assert(expect.areas.values.forall(m => m.value > 0 && m.tol < m.value * 1e-2))
  }
}
