package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.MapEncoder._
import graft.functions.GeomOps
import graft.operators.MapPipeline
import graft.sources.{FdoSink, Mapsforge}

/** Round-trips a hand-built two-subfile dbl map through the
  * distributed reader and the full merge pipeline.
  *
  * Geography: bbox lat 51.5-51.6, lon 7.1-7.6 → level-10 subfile has
  * tiles (532,340),(533,340); level-8 subfile has tile (133,85). The
  * tile boundary between the two level-10 tiles is at lon 7.3828125.
  */
class MapsforgeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import MapsforgeSpec._

  private lazy val mapPath = MapEncoder.writeToTemp(testMap)

  test("header parses: bbox, dictionaries, subfiles, dbl license") {
    val h = Mapsforge.readHeader(mapPath)
    assert(h.minLat == 51.5 && h.maxLon == 7.6)
    assert(h.poiTags == poiTags && h.wayTags == wayTags)
    assert(h.subfiles.map(_.level) == Seq(8, 10))
    assert(h.subfiles(1).minX == 532 && h.subfiles(1).maxX == 533)
    assert(h.subfiles(1).minY == 340 && h.subfiles(1).maxY == 340)
    assert(h.isDbl && h.dblString.contains("ODbL-1.0"))
    assert(h.comment.contains("test map"))
  }

  test("distributed scan decodes all POIs and ways exactly") {
    val (pois, ways) = Mapsforge.scan(spark, mapPath)
    val pl = pois.collect().sortBy(p => (p.pnum.get, p.level))
    assert(pl.length == 3)
    val city8 = pl(0); val city10 = pl(1); val p2 = pl(2)
    assert(city8.level == 8 && city8.minz == 7 && city8.maxz == 8)
    assert(city10.level == 10 && city10.minz == 9 && city10.maxz == 11)
    assert(city10.lat == 51.55 && city10.lon == 7.3)
    assert(city10.tags == Seq("place=city"))
    assert(city10.vtags("population") == "632000")
    assert(city10.vtags("m2db_name") == "Dortmund")
    assert(city10.vtags("m2db_elevation") == "86")
    assert(p2.pnum.contains(2L) && p2.layer == 1 && p2.minz == 10)

    val wl = ways.collect()
    assert(wl.length == 3)
    val road = wl.filter(_.lnum.contains(1L))
    assert(road.length == 2)
    // double-delta fragment decodes to the exact source coordinates
    val west = road.find(_.tileX == 532).get
    assert(west.coords ==
      Seq(Seq(Seq(Mapsforge.Coord(7.2, 51.55), Mapsforge.Coord(7.3, 51.55),
        Mapsforge.Coord(edgeQ, 51.55)))))
    assert(west.vtags("m2db_name") == "A40")
    val park = wl.find(_.anum.contains(1L)).get
    assert(park.geomType == "MULTIPOLYGON")
    assert(park.coords.size == 2) // two polygons
    assert(park.coords.head.size == 2) // shell + hole
    assert(park.vtags("name:en") == "park")
  }

  test("pipeline merges fragments across tiles and levels") {
    val t = MapPipeline.build(spark, mapPath)

    val points = t.points.collect().sortBy(_.getAs[Long]("m2db_pnum"))
    assert(points.length == 2)
    val city = points(0)
    assert(city.getAs[Int]("m2db_level") == 10)
    assert(city.getAs[Int]("m2db_minz") == 7) // extended down by level 8
    assert(city.getAs[Int]("m2db_maxz") == 11)
    assert(city.getAs[String]("m2db_tags") == "[\"place=city\"]")
    assert(city.getAs[String]("m2db_name") == "Dortmund")
    assert(city.getAs[String]("population") == "632000")
    val cityGeom = GeomOps.fromWkb(city.getAs[Array[Byte]]("m2db_geometry"))
    assert(cityGeom.getCoordinates.head.x == 7.3)

    val lines = t.lines.collect()
    assert(lines.length == 1)
    val road = GeomOps.fromWkb(lines(0).getAs[Array[Byte]]("m2db_geometry"))
    assert(road.getGeometryType == "LineString",
      s"fragments should merge to one line, got ${road.toText}")
    val xs = road.getCoordinates.map(_.x)
    assert(xs.min == 7.2 && xs.max == 7.5)
    assert(xs.length == 5) // 7.2 7.3 edge 7.4 7.5

    val areas = t.areas.collect()
    assert(areas.length == 1)
    val park = GeomOps.fromWkb(areas(0).getAs[Array[Byte]]("m2db_geometry"))
    assert(park.getNumGeometries == 2)
    val expectedArea = (0.1 * 0.05 - 0.04 * 0.02) + 0.03 * 0.02
    assert(math.abs(park.getArea - expectedArea) < 1e-9)
    assert(areas(0).getAs[String]("name:en") == "park")
  }

  test("FdoSink writes the RFC16 table set + TOML config") {
    val t = MapPipeline.build(spark, mapPath)
    val h = Mapsforge.readHeader(mapPath)
    val out = java.nio.file.Files.createTempDirectory("graft-fdo").toString
    FdoSink.write(spark, t, h, mapPath, out)
    val gc = spark.read.parquet(s"$out/geometry_columns").collect()
    assert(gc.map(_.getString(0)).toSet == Set("points", "lines", "areas"))
    // feature tables are hive-partitioned by level for partition pruning
    assert(new java.io.File(s"$out/points").listFiles()
      .exists(_.getName.startsWith("m2db_level=")))
    val pts = spark.read.parquet(s"$out/points")
    assert(pts.columns.contains("m2db_level") && pts.count() == 2)
    val readme = spark.read.parquet(s"$out/README").collect()
    assert(readme.exists(_.getString(1) == "ODbL-1.0"))
    val limits = spark.read.parquet(s"$out/limits").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(limits("minlat") == 51.5 && limits("maxlon") == 7.6)
    assert(spark.read.parquet(s"$out/subfiles").count() == 2)
    val toml = FdoSink.configToml(h, s"$out/db", t.vtagKeys)
    assert(toml.contains("dbl = \"\"\"ODbL-1.0\"\"\""))
    assert(toml.contains("\"population\""))
    assert(toml.contains("[[map_data]]"))
    // layer-specific source columns (map2db.py:1271-1308)
    assert("elevation_column".r.findAllIn(toml).size == 1)
    assert("reference_column".r.findAllIn(toml).size == 2)
    assert(toml.contains("{column_name = \"population\"}"))
  }

  test("fused build pays one hash exchange for all three feature tables") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // every node of a plan, walking into the final adaptive plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      nodes(p).collect { case e: ShuffleExchangeExec => e }
    // the tile scan ships its tasks without a shuffle (no
    // round-robin repartition of the task list)
    val (pois, ways) = Mapsforge.scan(spark, mapPath)
    Seq(pois, ways).foreach { ds =>
      assert(shuffles(ds.queryExecution.executedPlan).isEmpty,
        ds.queryExecution.executedPlan.toString)
    }
    val t = MapPipeline.build(spark, mapPath)
    try {
      // points, lines and areas are filters of ONE persisted relation
      val caches = Seq(t.points, t.lines, t.areas).map(
        _.queryExecution.optimizedPlan.collect {
          case r: InMemoryRelation => r.cacheBuilder
        })
      assert(caches.forall(_.size == 1))
      assert(caches.flatten.forall(_ eq caches.head.head))
      // ...merged over one exchange on (table, fid) and walked once per
      // feature — a second exchange means the single-shuffle design
      // broke, a window or an aggregate that the walk came undone
      val plan = caches.head.head.cachedPlan
      val grouped = nodes(plan).filter {
        case _: WindowExec | _: BaseAggregateExec => true
        case _ => false
      }
      assert(grouped.isEmpty, s"window or aggregate in the merge\n$plan")
      val ex = shuffles(plan)
      assert(ex.size == 1, s"expected 1 exchange, got ${ex.size}\n$plan")
      ex.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.map(_.references.head.name) ==
            Seq("table", "fid"))
        case other => fail(s"expected hash partitioning, got $other")
      }
    } finally t.release()
  }

  test("integrity validation: clean map passes, tampered fragments fail") {
    import spark.implicits._
    import graft.operators.MapPipeline.Feature

    // the synthetic dbl map satisfies every reference invariant
    val t = MapPipeline.build(spark, mapPath, strict = true)
    assert(t.points.count() == 2)

    def f(fid: Long, level: Int, minz: Int, maxz: Int, layer: Int = 0,
        tags: String = "[]", vtags: Map[String, String] = Map.empty) =
      Feature(fid, level, minz, maxz, layer, tags, vtags, Array[Byte]())

    // same-level duplicates disagreeing on an attribute (767-776)
    val sameLevel = MapPipeline.validate(Seq(
      f(1, 10, 9, 11, layer = 0), f(1, 10, 9, 11, layer = 3)).toDS())
      .collect().map(_.getString(1))
    assert(sameLevel.toSeq == Seq("same_level_attr"))

    // cross-level attribute drift (787-793)
    val cross = MapPipeline.validate(Seq(
      f(2, 10, 9, 11, vtags = Map("name" -> "a")),
      f(2, 8, 7, 8, vtags = Map("name" -> "b"))).toDS())
      .collect().map(_.getString(1))
    assert(cross.contains("cross_level_attr"))

    // zoom range with a hole (797-803): 8-level maxz 8, 10-level minz 10
    val gap = MapPipeline.validate(Seq(
      f(3, 10, 10, 11), f(3, 8, 7, 8)).toDS())
      .collect().map(_.getString(1))
    assert(gap.toSeq == Seq("zoom_gap"))
  }

  test("SQLite export round-trips the RFC16 database single-file") {
    import graft.sources.SqliteWriter
    val t = MapPipeline.build(spark, mapPath)
    val h = Mapsforge.readHeader(mapPath)
    val out = java.nio.file.Files.createTempDirectory("graft-sqlite")
      .resolve("map.db").toString
    FdoSink.writeSqlite(spark, t, h, mapPath, out)

    val db = new SqliteWriter.Reader.Db(out)
    assert(db.master.keySet == Set("geometry_columns", "spatial_ref_sys",
      "README", "points", "lines", "areas", "subfiles", "limits"))

    // geometry_columns rows exactly as the reference inserts them
    assert(db.tableRows("geometry_columns").map(_._2) == Seq(
      Seq("points", "m2db_geometry", 4L, 2L, 1L, "WKB"),
      Seq("lines", "m2db_geometry", 5L, 2L, 1L, "WKB"),
      Seq("areas", "m2db_geometry", 6L, 2L, 1L, "WKB")))

    // limits carry the header bbox as REALs
    val limits = db.tableRows("limits").map(_._2)
      .map(r => r(0).asInstanceOf[String] -> r(1).asInstanceOf[Double])
      .toMap
    assert(limits == Map("minlat" -> 51.5, "minlon" -> 7.1,
      "maxlat" -> 51.6, "maxlon" -> 7.6))

    // feature rowids ARE the dbl feature numbers (INTEGER PRIMARY KEY
    // alias), and the geometry blobs parse as the same WKB the
    // DataFrame carries
    val pts = db.tableRows("points")
    assert(pts.map(_._1) == Seq(1L, 2L))
    val dfPts = t.points.collect().map(r =>
      r.getAs[Long]("m2db_pnum") ->
        r.getAs[Array[Byte]]("m2db_geometry").toSeq).toMap
    pts.foreach { case (rowid, vals) =>
      // schema: pnum(null alias), level, minz, maxz, geometry, ...
      assert(vals(0) == null)
      assert(vals(4).asInstanceOf[Array[Byte]].toSeq == dfPts(rowid))
    }
    // subfile_num is 0-based, as the reference enumerates them
    // (map2db.py:1455); SQLite rowids may legally be 0
    assert(db.tableRows("subfiles").map(_._1) == Seq(0L, 1L))
    assert(db.tableRows("README").map(_._2)
      .exists(_(1) == "ODbL-1.0"))

    // the real-engine validation lives in tools/check_sqlite.py
    // (Python stdlib sqlite3, incl. PRAGMA integrity_check) — no
    // JDBC sqlite driver exists in this offline environment
  }

  test("readSqliteTable loads the exported database back (migration path)") {
    val t = MapPipeline.build(spark, mapPath)
    val h = Mapsforge.readHeader(mapPath)
    val out = java.nio.file.Files.createTempDirectory("graft-rt")
      .resolve("map.db").toString
    FdoSink.writeSqlite(spark, t, h, mapPath, out)

    val pts = FdoSink.readSqliteTable(spark, out, "points")
    assert(pts.columns.take(5).toSeq == Seq("m2db_pnum", "m2db_level",
      "m2db_minz", "m2db_maxz", "m2db_geometry"))
    val got = pts.collect().map(r =>
      r.getAs[Long]("m2db_pnum") ->
        ((r.getAs[Long]("m2db_level"),
          r.getAs[Array[Byte]]("m2db_geometry").toSeq,
          r.getAs[String]("m2db_name")))).toMap
    val want = t.points.collect().map(r =>
      r.getAs[Long]("m2db_pnum") ->
        ((r.getAs[Int]("m2db_level").toLong,
          r.getAs[Array[Byte]]("m2db_geometry").toSeq,
          r.getAs[String]("m2db_name")))).toMap
    assert(got == want)

    val limits = FdoSink.readSqliteTable(spark, out, "limits").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(limits("maxlon") == 7.6)
  }

  test("SQLite writer round-trips interior pages and overflow chains") {
    import graft.sources.SqliteWriter
    import SqliteWriter.Table
    val rnd = new scala.util.Random(7)
    val rows = (1 to 3000).map { i =>
      // every 97th payload (~9 KB) exceeds the one-page payload limit
      // → overflow chain; 3000 rows → multiple leaves → interior page
      val b = new Array[Byte](if (i % 97 == 0) 9000 else rnd.nextInt(60) + 1)
      rnd.nextBytes(b)
      (i.toLong, b)
    }
    val path = java.nio.file.Files.createTempDirectory("graft-sql-stress")
      .resolve("s.db").toString
    SqliteWriter.write(path, Seq(Table.fromRows("t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, payload BLOB, note TEXT)",
      rows.iterator.map { case (id, b) => Seq(id, b, s"row$id") },
      rowidCol = Some(0))))
    val got = new SqliteWriter.Reader.Db(path).tableRows("t")
    assert(got.size == 3000)
    got.zip(rows).foreach { case ((rowid, vals), (id, b)) =>
      assert(rowid == id)
      assert(vals(1).asInstanceOf[Array[Byte]].toSeq == b.toSeq,
        s"payload mismatch at row $id")
      assert(vals(2) == s"row$id")
    }
  }

  test("SQLite writer builds multi-level interior b-trees") {
    import graft.sources.SqliteWriter
    import SqliteWriter.Table
    // 120k tiny rows → hundreds of leaves → >1 interior level; pins
    // the recursive tree build + key ordering at depth 3
    val n = 120000
    val path = java.nio.file.Files.createTempDirectory("graft-sql-deep")
      .resolve("d.db").toString
    // tail rowids >= 2^56 force the 9-byte varint form (8 7-bit
    // groups + full low byte) in both leaf cells and interior keys
    val huge = Seq((1L << 56) + 5, Long.MaxValue - 1)
    SqliteWriter.write(path, Seq(Table.fromRows("t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
      ((1 to n).iterator.map(_.toLong) ++ huge.iterator)
        .map(i => Seq(i, i * 3)),
      rowidCol = Some(0))))
    val got = new SqliteWriter.Reader.Db(path).tableRows("t")
    assert(got.size == n + 2)
    assert(got.map(_._1) == (1 to n).map(_.toLong) ++ huge)
    assert(got.forall { case (id, vals) => vals(1) == id * 3 })
  }

  test("SQLite writer spills pages past the cache bound (streamed store)") {
    import graft.sources.SqliteWriter
    import SqliteWriter.Table
    // the file-backed PageStore keeps at most MaxCachedPages (1024 ×
    // 4 KiB = 4 MiB) in memory; this database is ~9 MiB so completed
    // pages spill and late patches (overflow back-links, the page-1
    // re-home, the final header) hit RE-READ pages — the paths no
    // small-file test touches. 2 KiB strings keep leaves multi-row;
    // 20 KiB blobs force overflow chains that straddle evictions, and
    // one 4 MiB blob a chain longer than the whole cache, copied page
    // by page from its offset.
    val path = java.nio.file.Files.createTempDirectory("graft-sql-spill")
      .resolve("s.db").toString
    val nSmall = 3500; val nBig = 200; val n = nSmall + nBig + 1
    def blob(i: Int) =
      Array.tabulate[Byte](20000)(j => ((i * 31 + j) & 0xFF).toByte)
    val huge = Array.tabulate[Byte](4 << 20)(j => ((j >>> 12) + j).toByte)
    SqliteWriter.write(path, Seq(Table.fromRows("t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, s TEXT, b BLOB)",
      (1 to n).iterator.map { i =>
        if (i <= nSmall) Seq(i.toLong, ("x" * 2000) + i, null)
        else if (i < n) Seq(i.toLong, null, blob(i))
        else Seq(i.toLong, null, huge)
      },
      rowidCol = Some(0))))
    assert(new java.io.File(path).length() > 8L * 1024 * 1024,
      "fixture too small to cross the cache bound")
    val got = new SqliteWriter.Reader.Db(path).tableRows("t")
    assert(got.size == n)
    assert(got.map(_._1) == (1 to n).map(_.toLong))
    assert(got.take(nSmall).forall { case (id, vals) =>
      vals(1) == ("x" * 2000) + id })
    assert(got.slice(nSmall, n - 1).forall { case (id, vals) =>
      java.util.Arrays.equals(vals(2).asInstanceOf[Array[Byte]],
        blob(id.toInt)) })
    assert(java.util.Arrays.equals(got.last._2(2).asInstanceOf[Array[Byte]],
      huge), "4 MiB blob mismatch")
    // the REAL engine's structural validation (covers freelist, cell
    // ordering, overflow chain integrity) when python3 is available
    val ic = try {
      scala.sys.process.Process(Seq("python3", "-c",
        s"""import sqlite3,sys
           |c=sqlite3.connect("$path")
           |ok,=c.execute("PRAGMA integrity_check").fetchone()
           |print(ok)
           |n,=c.execute("SELECT COUNT(*) FROM t").fetchone()
           |sys.exit(0 if (ok=="ok" and n==$n) else 1)"""
          .stripMargin)).! == 0
    } catch { case _: Throwable => true } // no python3: Reader pass stands
    assert(ic, "real-engine integrity_check failed on the spilled file")
  }

  test("map2db decodes each source tile exactly once") {
    val out = java.nio.file.Files.createTempDirectory("graft-once").toString
    val t = FdoSink.map2db(spark, mapPath, out)
    // The synthetic map has 3 non-empty tiles (two level-10, one
    // level-8). The full build + vtag collect + 3-table sink must
    // decode each exactly once — the round-2 pipeline ran the binary
    // decode 3x per run. Read the counter BEFORE any further action
    // on the (released) tables, which would recompute the decode.
    assert(t.decodedTiles() == 3,
      s"decoded ${t.decodedTiles()} tile(s); expected one decode of " +
        "each of the 3 non-empty tiles")
  }

  test("CLI Main: suffix validation, default dst naming, build + " +
    "license courtesy print (map2db.py:1520-1547 parity)") {
    intercept[IllegalArgumentException](Main.parseArgs(Array.empty))
    intercept[IllegalArgumentException](Main.parseArgs(Array("x.txt")))
    assert(Main.parseArgs(Array("/a/b.map")) == (("/a/b.map", "/a/b.db")))
    assert(Main.parseArgs(Array("/a/b.map", "/c/d.db")) ==
      (("/a/b.map", "/c/d.db")))
    val dir = java.nio.file.Files.createTempDirectory("graft-cli")
    val src = dir.resolve("cli.map").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(mapPath),
      java.nio.file.Paths.get(src))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val (s2, dst) = Main.parseArgs(Array(src))
    assert(dst == dir.resolve("cli.db").toString)
    Main.run(spark, s2, dst, lines += _)
    assert(new java.io.File(dst).exists(),
      "single-file SQLite deliverable missing")
    assert(new java.io.File(dst + ".d/config.toml").exists(),
      "forgemap config missing from the parquet sink dir")
    assert(lines.exists(_.contains(s"database written to '$dst'")))
    assert(lines.exists(_.contains(
      "also in the README table of the database")))
    // the printed statement is the map's own dbl-encoded text (the
    // license/copyright surface the reference echoes to the console)
    val h = Mapsforge.readHeader(src)
    h.dblString.foreach(s => assert(lines.exists(_.contains(s))))
  }

  test("map2db entry writes the database and forgemap config for dbl maps") {
    val out = java.nio.file.Files.createTempDirectory("graft-m2db").toString
    val t = FdoSink.map2db(spark, mapPath, out)
    assert(t.points.count() == 2)
    val readme = spark.read.parquet(s"$out/README").collect()
      .map(_.getString(1))
    assert(readme.contains("(database recreation completed.)"))
    val tomlPath = java.nio.file.Paths.get(out, "config.toml")
    assert(java.nio.file.Files.exists(tomlPath))
  }

  test("map2db emits one progress line per pipeline stage " +
    "(map2db.py:731-744 console-progress parity)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-m2db-prog").toString
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    FdoSink.map2db(spark, mapPath, out, progress = lines += _)
    // one line per stage: header parse / plan build / sink / config
    assert(lines.exists(l => l.contains("header parsed") &&
      l.contains("subfiles") && l.contains("dbl=true")))
    assert(lines.exists(_.contains("decode\u2192clip\u2192merge plan built")))
    assert(lines.exists(_.contains(s"tables sunk to '$out'")))
    assert(lines.exists(_.contains("config.toml emitted")))
  }
}

object MapsforgeSpec {
  private val poiTags = Seq(
    "amenity=cafe", "place=city", "__dbl_pnum=%i", "population=%i")
  private val wayTags = Seq(
    "highway=primary", "__dbl_lnum=%i", "__dbl_anum=%i", "name:en=%s",
    "_lbd_=" + "ODbL-1.0".reverse)

  private val edge = 7.3828125 // lonFromX(10, 533)
  // the wire format quantizes to integer microdegrees (ties-to-even)
  private val edgeQ = 7.382812

  def testMap: MapSpec = {
    val cityL10 = PoiSpec(tileZ = 9, lat = 51.55, lon = 7.3, layer = 0,
      tagIdx = Seq(1, 2, 3), vtagValues = Seq(1, 632000),
      name = Some("Dortmund"), elevation = Some(86))
    val cityL8 = cityL10.copy(tileZ = 7)
    val poi2 = PoiSpec(tileZ = 10, lat = 51.5, lon = 7.5, layer = 1,
      tagIdx = Seq(0, 2), vtagValues = Seq(2))
    // road lnum=1 crossing the tile boundary; west fragment uses
    // double-delta encoding
    val roadWest = WaySpec(tileZ = 9, layer = 0, tagIdx = Seq(1),
      vtagValues = Seq(1), name = Some("A40"), doubleDelta = true,
      blocks = Seq(Seq(Seq((7.2, 51.55), (7.3, 51.55), (edge, 51.55)))))
    val roadEast = roadWest.copy(doubleDelta = false,
      blocks = Seq(Seq(Seq((edge, 51.55), (7.4, 51.55), (7.5, 51.55)))))
    // area anum=1: two data blocks — square-with-hole + small square
    val park = WaySpec(tileZ = 9, layer = 0, tagIdx = Seq(2, 3),
      vtagValues = Seq(1, "park"),
      blocks = Seq(
        Seq(
          Seq((7.1, 51.52), (7.2, 51.52), (7.2, 51.57), (7.1, 51.57),
            (7.1, 51.52)),
          Seq((7.13, 51.54), (7.17, 51.54), (7.17, 51.56), (7.13, 51.56),
            (7.13, 51.54))),
        Seq(
          Seq((7.25, 51.52), (7.28, 51.52), (7.28, 51.54), (7.25, 51.54),
            (7.25, 51.52)))))
    MapSpec(minLat = 51.5, minLon = 7.1, maxLat = 51.6, maxLon = 7.6,
      poiTags = poiTags, wayTags = wayTags,
      subfiles = Seq(
        SubfileSpec(8, 6, 8, Seq(TileSpec(133, 85, pois = Seq(cityL8)))),
        SubfileSpec(10, 9, 11, Seq(
          TileSpec(532, 340, pois = Seq(cityL10),
            ways = Seq(roadWest, park)),
          TileSpec(533, 340, pois = Seq(poi2), ways = Seq(roadEast))))),
      comment = Some("test map"), createdBy = Some("graft-test"))
  }
}
