package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MapPipeline
import graft.operators.MapPipeline.MapTables
import graft.sources.{FdoSink, Mapsforge, SqliteWriter}

/** Differential spec for the two sinks of `FdoSink.map2db`:
  *
  *  - the SQLite pass hands the driver only `(table, fid, record)`
  *    rows, records already encoded, in (table, fid) order;
  *  - the SQLite file, written from one (table, fid) ordered pass over
  *    the build's merged relation, is byte-identical to one written
  *    from each feature table collected by id on its own;
  *  - the metadata tables, written by the driver without a job, read
  *    back as their `toDF` forms, and a second write into the same
  *    directory overwrites every table, leaving no stale part file.
  *
  * Fixtures: FusedBuildSpec's crossing map with and without areas (an
  * empty areas table), NonDblMapSpec's raw map. */
class FdoSinkSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** The per-table form: each feature table collected by its id, its
    * vtag columns read from its DataFrame's columns. */
  private def perTableSqlite(t: MapTables, header: Mapsforge.Header,
      src: String, path: String): Unit = {
    import SqliteWriter.Table
    def featureTable(df: DataFrame, idCol: String, name: String): Table = {
      val base = Seq(idCol, "m2db_level", "m2db_minz", "m2db_maxz",
        "m2db_geometry", "m2db_layer_num", "m2db_tags")
      val vtagCols = df.columns.filterNot(base.contains).toSeq
      val sqlType = Map("m2db_geometry" -> "BLOB", "m2db_tags" -> "TEXT")
      def q(ident: String): String =
        "\"" + ident.replace("\"", "\"\"") + "\""
      val colDefs = (s"${q(idCol)} INTEGER PRIMARY KEY" +:
        (base.tail.map(c => s"${q(c)} ${sqlType.getOrElse(c, "INTEGER")}") ++
          vtagCols.map(c => s"${q(c)} TEXT"))).mkString(", ")
      val rows = df.select((base ++ vtagCols).map(col): _*)
        .orderBy(col(idCol)).collect()
      Table.fromRows(name, s"CREATE TABLE $name ($colDefs)",
        rows.iterator.map(_.toSeq), rowidCol = Some(0))
    }
    SqliteWriter.write(path, FdoSink.sqliteTables(header, src, Seq(
      featureTable(t.points, "m2db_pnum", "points"),
      featureTable(t.lines, "m2db_lnum", "lines"),
      featureTable(t.areas, "m2db_anum", "areas"))))
  }

  /** A feature table's schema as the build gives it: every column
    * nullable, the id column included. */
  private def featureSchema(idCol: String, vtagCols: String*): StructType =
    StructType(Seq(StructField(idCol, LongType)) ++
      Seq("m2db_level", "m2db_minz", "m2db_maxz", "m2db_layer_num")
        .map(StructField(_, IntegerType)) ++
      Seq(StructField("m2db_tags", StringType),
        StructField("m2db_geometry", BinaryType)) ++
      vtagCols.map(StructField(_, StringType)))

  private def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  private def partFiles(dir: String): Set[String] =
    Option(new File(dir).listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) partFiles(f.getPath)
      else if (f.getName.startsWith("part-")) Set(f.getPath) else Nil
    }.toSet

  private def check(src: String, build: => MapTables): Unit = {
    val header = Mapsforge.readHeader(src)
    val tmp = Files.createTempDirectory("graft-sink")
    val t = build
    try {
      // the driver receives finished records, in (table, fid) order
      val recs = FdoSink.sqliteRecords(t)
      assert(recs.schema.map(f => f.name -> f.dataType) == Seq(
        "table" -> IntegerType, "fid" -> LongType, "record" -> BinaryType))
      val ids = recs.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(ids.nonEmpty && ids.zip(ids.tail).forall { case (a, b) =>
        Ordering[(Int, Long)].lt(a, b) }, "records out of (table, fid) order")

      val (got, want) = (tmp.resolve("got.db"), tmp.resolve("want.db"))
      FdoSink.writeSqlite(spark, t, header, src, got.toString)
      perTableSqlite(t, header, src, want.toString)
      assert(java.util.Arrays.equals(Files.readAllBytes(got),
        Files.readAllBytes(want)), "SQLite files differ")

      val out = tmp.resolve("db").toString
      FdoSink.write(spark, t, header, src, out)
      val first = partFiles(out)
      FdoSink.write(spark, t, header, src, out)
      assert((partFiles(out) & first).isEmpty,
        "a part file of the first write survived the second")
      FdoSink.metadataTables(spark, header, src).foreach { case (name, df) =>
        val back = spark.read.parquet(s"$out/$name")
        assert(back.schema == nullable(df.schema), name)
        assert(back.collect().toSeq.map(_.toString).sorted ==
          df.collect().toSeq.map(_.toString).sorted, name)
        assert(partFiles(s"$out/$name").size == 1, name)
        assert(new File(s"$out/$name/_SUCCESS").isFile, name)
      }
      // a table without rows writes only _SUCCESS (no schema to read)
      Seq("points" -> t.points, "lines" -> t.lines, "areas" -> t.areas)
        .foreach { case (name, df) =>
          val n = df.count()
          assert((if (n == 0) partFiles(s"$out/$name").size
            else spark.read.parquet(s"$out/$name").count()) == n, name)
        }
    } finally t.release()
  }

  test("sinks agree with the per-table form: crossing map with areas") {
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(41L, withAreas = true))
    check(path, MapPipeline.build(spark, path))
  }

  test("sinks agree with the per-table form: empty areas table") {
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(42L, withAreas = false))
    check(path, MapPipeline.build(spark, path))
  }

  test("feature tables keep their schemas, nullability included") {
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(41L, withAreas = true))
    val t = MapPipeline.build(spark, path)
    try {
      assert(t.points.schema ==
        featureSchema("m2db_pnum", "m2db_name", "population"))
      assert(t.lines.schema ==
        featureSchema("m2db_lnum", "m2db_reference", "name:en"))
      assert(t.areas.schema == featureSchema("m2db_anum", "name:en"))
    } finally t.release()
  }

  test("sinks agree with the per-table form: raw non-dbl map") {
    val path = MapEncoder.writeToTemp(NonDblMapSpec.testMap)
    check(path, MapPipeline.buildRaw(spark, path))
  }

  test("map2db frees the build's relation when a sink fails") {
    val path = MapEncoder.writeToTemp(MapsforgeSpec.testMap)
    // the SQLite file's parent is a regular file
    val notADir = Files.createTempFile("graft-sink", ".file")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.FileNotFoundException] {
      FdoSink.map2db(spark, path, Files.createTempDirectory("graft-sink")
        .toString, sqliteFile = Some(notADir.resolve("map.db").toString))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
