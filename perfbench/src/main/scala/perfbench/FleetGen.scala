package perfbench

import scala.util.Random

import graft.MapEncoder
import graft.MapEncoder.{MapSpec, PoiSpec, SubfileSpec, TileSpec, WaySpec}
import graft.sources.Mapsforge

/** Seeded fleet of synthetic dbl MapsForge maps, plus what map2db must
  * produce from each one.
  *
  * The tag layout follows the repo's g13 fixture (feature ids as
  * `__dbl_*=%i` variable tags, the reversed license in `_lbd_`, which
  * must stay the last way tag). Unlike that fixture, features here do
  * the work map2db exists for:
  *
  *  - lines and areas span two or three tiles of the fine subfile, so
  *    the clip cuts them and the merge has to union the pieces again;
  *  - a share of every feature kind is repeated in the coarse subfile
  *    (lines and areas simplified there), so the merge keeps the fine
  *    geometry and extends the zoom range downward;
  *  - POIs carry string and integer variable tags that become columns.
  *
  * Coordinates sit on the microdegree grid the format stores. The clip
  * snaps the points where a feature crosses a tile border to that grid
  * too, so each expected length and area carries the most those snaps
  * can move it: 2 * 0.71 udeg per crossing for a line, 0.71 udeg times
  * the length of each crossed edge for an area.
  */
object FleetGen {

  /** Subfile levels: coarse (zooms 8-10) and fine (zooms 11-14). */
  val Lo = 10
  val Hi = 13
  private val LoZooms = (8, 10)
  private val HiZooms = (11, 14)

  /** Sizes of the maps in one fleet, in units. At these sizes the
    * decode, clip, merge and sink work carries more of a pass than the
    * per-map job floor does. */
  val Sizes: Seq[Int] = Seq(30, 90)

  /** Features per size unit. These counts, the shares repeated at the
    * coarse level and the tile spans below are assumptions, not
    * statistics of a real map: they make every feature kind cross tile
    * borders and levels. */
  val PoisPerUnit = 500
  val LinesPerUnit = 65
  val AreasPerUnit = 40

  val License = "ODbL-1.0"
  private val poiTags = Seq("amenity=cafe", "amenity=pub", "shop=bakery",
    "__dbl_pnum=%i", "brand=%s", "capacity=%i")
  private val wayTags = Seq("highway=primary", "highway=track",
    "__dbl_lnum=%i", "landuse=forest", "leisure=park", "__dbl_anum=%i",
    "surface=%s", "_lbd_=" + License.reverse)
  private val brands = Seq("Alpha", "Borealis", "Cobalt", "Dune", "Ember")
  private val surfaces = Seq("asphalt", "gravel", "dirt")

  /** A length or area in degrees on the lon/lat plane, and how far the
    * grid snaps of the clip may move it. */
  final case class Measure(value: Double, tol: Double) {
    def admits(got: Double): Boolean = math.abs(got - value) <= tol
  }

  /** What the merged tables must hold: per point its `brand` value and
    * merged `m2db_minz`; per line its length and per area its area. */
  final case class Expect(points: Map[Long, (String, Int)],
      lines: Map[Long, Measure], areas: Map[Long, Measure])

  /** Largest distance a snap to the microdegree grid moves a point. */
  private val Snap = 0.5e-6 * math.sqrt(2)

  final case class MapFile(name: String, path: String, bytes: Long,
      nonEmptyTiles: Int, expect: Expect)

  private def md(v: Double): Double = math.rint(v * 1e6) / 1e6
  private def lonAt(z: Int, x: Double): Double = x / (1L << z) * 360.0 - 180.0
  private def latAt(z: Int, y: Double): Double = {
    val n = (1L << z).toDouble
    math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * y / n))))
  }
  private def tileX(z: Int, lon: Double): Long =
    Mapsforge.xFromLon(z, lon).toLong
  private def tileY(z: Int, lat: Double): Long =
    Mapsforge.yFromLat(z, lat).toLong

  private def segments(pts: Seq[(Double, Double)])
      : Iterator[((Double, Double), (Double, Double))] =
    pts.sliding(2).map { case Seq(a, b) => (a, b) }

  /** Borders of the fine tile grid the segment a-b crosses. */
  private def crossings(a: (Double, Double), b: (Double, Double)): Long =
    math.abs(tileX(Hi, b._1) - tileX(Hi, a._1)) +
      math.abs(tileY(Hi, b._2) - tileY(Hi, a._2))

  private def length(pts: Seq[(Double, Double)]): Measure = {
    val segs = segments(pts).toSeq
    Measure(
      segs.map { case ((x0, y0), (x1, y1)) => math.hypot(x1 - x0, y1 - y0) }.sum,
      2 * Snap * segs.map { case (a, b) => crossings(a, b) }.sum + 1e-12)
  }

  private def ringArea(ring: Seq[(Double, Double)]): Measure = {
    val segs = segments(ring).toSeq
    Measure(math.abs(segs.map { case ((x0, y0), (x1, y1)) =>
      x0 * y1 - x1 * y0
    }.sum) / 2, Snap * segs.map { case (a @ (x0, y0), b @ (x1, y1)) =>
      crossings(a, b) * math.hypot(x1 - x0, y1 - y0)
    }.sum + 1e-12)
  }

  /** Tiles of level `z` whose boxes the bounding box of `pts` touches. */
  private def tilesOf(z: Int, pts: Seq[(Double, Double)]): Seq[(Long, Long)] = {
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    for {
      x <- tileX(z, xs.min) to tileX(z, xs.max)
      y <- tileY(z, ys.max) to tileY(z, ys.min)
    } yield (x, y)
  }

  /** The spec of map `idx` of the fleet for `seed`, and its expectations. */
  def spec(seed: Long, idx: Int, size: Int): (MapSpec, Expect, Int) = {
    val rnd = new Random(seed * 1000003L + idx)
    // a 0.6 x 0.45 degree extract somewhere along 50-51 N, where tiles
    // of every map cover about the same area
    val minLon = md(5.0 + rnd.nextDouble() * 10.0)
    val minLat = md(50.0 + rnd.nextDouble())
    val (maxLon, maxLat) = (md(minLon + 0.6), md(minLat + 0.45))
    // features stay two fine tiles inside the extract, so every tile
    // they touch is inside the map's tile range at both levels
    val x0 = tileX(Hi, minLon) + 2; val x1 = tileX(Hi, maxLon) - 3
    val y0 = tileY(Hi, maxLat) + 2; val y1 = tileY(Hi, minLat) - 3
    def at(fx: Double, fy: Double): (Double, Double) =
      (md(lonAt(Hi, x0 + fx * (x1 - x0 + 1))),
        md(latAt(Hi, y0 + fy * (y1 - y0 + 1))))
    val tileW = lonAt(Hi, 1) - lonAt(Hi, 0)
    val (inLon0, inLat0) = at(0, 1)
    val (inLon1, inLat1) = at(1, 0)

    val hi = scala.collection.mutable.Map.empty[(Long, Long),
      (Vector[PoiSpec], Vector[WaySpec])]
    val lo = scala.collection.mutable.Map.empty[(Long, Long),
      (Vector[PoiSpec], Vector[WaySpec])]
    def addPoi(level: scala.collection.mutable.Map[(Long, Long),
        (Vector[PoiSpec], Vector[WaySpec])], t: (Long, Long), p: PoiSpec)
        : Unit = {
      val (ps, ws) = level.getOrElse(t, (Vector.empty, Vector.empty))
      level(t) = (ps :+ p, ws)
    }
    def addWay(level: scala.collection.mutable.Map[(Long, Long),
        (Vector[PoiSpec], Vector[WaySpec])], t: (Long, Long), w: WaySpec)
        : Unit = {
      val (ps, ws) = level.getOrElse(t, (Vector.empty, Vector.empty))
      level(t) = (ps, ws :+ w)
    }
    def loZoom(): Int = LoZooms._1 + rnd.nextInt(LoZooms._2 - LoZooms._1 + 1)

    val points = Map.newBuilder[Long, (String, Int)]
    for (pnum <- 0L until (PoisPerUnit * size).toLong) {
      // inside one fine tile, off its edges
      val tx = x0 + rnd.nextInt((x1 - x0 + 1).toInt)
      val ty = y0 + rnd.nextInt((y1 - y0 + 1).toInt)
      val lon = md(lonAt(Hi, tx + 0.05 + 0.9 * rnd.nextDouble()))
      val lat = md(latAt(Hi, ty + 0.05 + 0.9 * rnd.nextDouble()))
      val brand = brands(rnd.nextInt(brands.size)) + "-" + rnd.nextInt(1000)
      val withCap = rnd.nextBoolean()
      val tags = Seq(rnd.nextInt(3), 3, 4) ++ (if (withCap) Seq(5) else Nil)
      val vals = Seq(Int.box(pnum.toInt), brand) ++
        (if (withCap) Seq(Int.box(rnd.nextInt(200))) else Nil)
      val name = if (rnd.nextInt(3) == 0) Some(s"poi $pnum") else None
      val layer = rnd.nextInt(5)
      def poi(z: Int) = PoiSpec(tileZ = z, lat = lat, lon = lon,
        layer = layer, tagIdx = tags, vtagValues = vals, name = name)
      addPoi(hi, (tileX(Hi, lon), tileY(Hi, lat)), poi(HiZooms._1))
      val minz =
        if (rnd.nextDouble() < 0.3) {
          val z = loZoom()
          addPoi(lo, (tileX(Lo, lon), tileY(Lo, lat)), poi(z))
          z
        } else HiZooms._1
      points += pnum -> (brand, minz)
    }

    val lines = Map.newBuilder[Long, Measure]
    for (lnum <- 0L until (LinesPerUnit * size).toLong) {
      // a 3-6 vertex walk with steps of about one fine tile that turns by
      // at most 60 degrees per vertex (a sharper spike could lose its tip
      // when both arms cross one tile border within a microdegree), moved
      // to a random spot of the inner box where it fits
      var (x, y, heading) = (0.0, 0.0, rnd.nextDouble() * 2 * math.Pi)
      val walk = Vector.newBuilder[(Double, Double)]
      walk += ((x, y))
      for (_ <- 1 until 3 + rnd.nextInt(4)) {
        heading += (rnd.nextDouble() - 0.5) * 2 * math.Pi / 3
        val step = tileW * (0.6 + 0.6 * rnd.nextDouble())
        x += step * math.cos(heading); y += 0.65 * step * math.sin(heading)
        walk += ((x, y))
      }
      val w = walk.result()
      val (wx0, wx1) = (w.map(_._1).min, w.map(_._1).max)
      val (wy0, wy1) = (w.map(_._2).min, w.map(_._2).max)
      val ox = inLon0 - wx0 + rnd.nextDouble() * (inLon1 - inLon0 - (wx1 - wx0))
      val oy = inLat0 - wy0 + rnd.nextDouble() * (inLat1 - inLat0 - (wy1 - wy0))
      val pts = w.map { case (px, py) => (md(px + ox), md(py + oy)) }
      val line = pts
      val tags = Seq(rnd.nextInt(2), 2) ++ Seq(6)
      val vals = Seq(Int.box(lnum.toInt), surfaces(rnd.nextInt(3)))
      val layer = rnd.nextInt(3)
      def way(z: Int, geom: Seq[(Double, Double)]) = WaySpec(tileZ = z,
        layer = layer, tagIdx = tags, vtagValues = vals,
        doubleDelta = rnd.nextBoolean(), blocks = Seq(Seq(geom)))
      tilesOf(Hi, line).foreach(t => addWay(hi, t, way(HiZooms._1, line)))
      if (rnd.nextDouble() < 0.4) {
        val simple = Seq(line.head, line.last)
        val z = loZoom()
        tilesOf(Lo, simple).foreach(t => addWay(lo, t, way(z, simple)))
      }
      lines += lnum -> length(line)
    }

    val areas = Map.newBuilder[Long, Measure]
    for (anum <- 0L until (AreasPerUnit * size).toLong) {
      // a ring around its centre, one vertex per equal sector: gaps
      // between vertex angles stay under pi, so the ring is star-shaped
      // about the centre and simple; it covers 2-4 fine tiles
      val (cx, cy) = at(rnd.nextDouble(), rnd.nextDouble())
      val k = 5 + rnd.nextInt(4)
      val angles = (0 until k).map(i =>
        2 * math.Pi * (i + 0.1 + 0.8 * rnd.nextDouble()) / k)
      val open = angles.map { a =>
        val r = tileW * (0.4 + 0.5 * rnd.nextDouble())
        (md(cx + r * math.cos(a)), md(cy + 0.65 * r * math.sin(a)))
      }.distinct
      val ring = open :+ open.head
      val tags = Seq(3 + rnd.nextInt(2), 5)
      val vals = Seq(Int.box(anum.toInt))
      def way(z: Int) = WaySpec(tileZ = z, layer = 0, tagIdx = tags,
        vtagValues = vals, blocks = Seq(Seq(ring)))
      tilesOf(Hi, ring).foreach(t => addWay(hi, t, way(HiZooms._1)))
      if (rnd.nextDouble() < 0.4) {
        val z = loZoom()
        tilesOf(Lo, ring).foreach(t => addWay(lo, t, way(z)))
      }
      areas += anum -> ringArea(ring)
    }

    def tiles(m: scala.collection.mutable.Map[(Long, Long),
        (Vector[PoiSpec], Vector[WaySpec])]): Seq[TileSpec] =
      m.toSeq.sortBy(_._1).map { case ((x, y), (ps, ws)) =>
        TileSpec(x, y, pois = ps, ways = ws)
      }
    val ms = MapSpec(minLat = minLat, minLon = minLon, maxLat = maxLat,
      maxLon = maxLon, poiTags = poiTags, wayTags = wayTags,
      subfiles = Seq(
        SubfileSpec(Lo, LoZooms._1, LoZooms._2, tiles(lo)),
        SubfileSpec(Hi, HiZooms._1, HiZooms._2, tiles(hi))),
      comment = Some(s"graft benchmark fleet map $idx (seed $seed)"),
      createdBy = Some("graft perfbench"))
    (ms, Expect(points.result(), lines.result(), areas.result()),
      hi.size + lo.size)
  }

  /** Encode the fleet for `seed` into `dir`, smallest map first. */
  def write(dir: String, seed: Long, sizes: Seq[Int] = Sizes): Seq[MapFile] = {
    new java.io.File(dir).mkdirs()
    sizes.zipWithIndex.map { case (size, i) =>
      val (ms, expect, nonEmpty) = spec(seed, i, size)
      val bytes = MapEncoder.encode(ms)
      val path = new java.io.File(dir, s"fleet$i.map").getAbsolutePath
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
      MapFile(s"fleet$i", path, bytes.length.toLong, nonEmpty, expect)
    }
  }
}
