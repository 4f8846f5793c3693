package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
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
  *    directory overwrites every table, leaving no stale part file;
  *  - the feature tables, written by one routed job, are file for file
  *    and byte for byte what `df.write.mode(Overwrite).partitionBy(
  *    "m2db_level").parquet` writes of each table (the form that job
  *    replaced), `spark.sql.files.maxRecordsPerFile` included, with a
  *    `_SUCCESS` in each table dir and nothing else at the root;
  *  - a failed write aborts its job, rethrows the IO cause, leaves no
  *    part file or `_temporary`, and frees the build's relation.
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

  /** The reference form of the feature tables: one partitioned
    * DataFrame write per table. */
  private def perTableParquet(t: MapTables, dir: String): Unit =
    Seq("points" -> t.points, "lines" -> t.lines, "areas" -> t.areas)
      .foreach { case (name, df) =>
        df.write.mode(SaveMode.Overwrite).partitionBy("m2db_level")
          .parquet(s"$dir/$name")
      }

  private val PartName =
    """part-(\d{5})-[0-9a-f-]{36}\.(c\d{3})\.snappy\.parquet""".r

  /** A table dir's part files by (level dir, part index, file counter):
    * every file name but the job's UUID. */
  private def partsByKey(tableDir: String): Map[(String, String, String), File] =
    Option(new File(tableDir).listFiles).toSeq.flatten
      .filter(_.isDirectory).flatMap { level =>
        level.listFiles.toSeq.filter(_.getName.startsWith("part-")).map { f =>
          val PartName(part, counter) = (f.getName: @unchecked)
          (level.getName, part, counter) -> f
        }
      }.toMap

  private val FeatureNames = Seq("points", "lines", "areas")

  /** `out`'s root holds only the eight tables (plus `extra`), each
    * feature table dir its `_SUCCESS`. */
  private def checkLayout(out: String, extra: Set[String] = Set.empty)
      : Unit = {
    assert(new File(out).list.toSet == FeatureNames.toSet ++ Set(
      "geometry_columns", "spatial_ref_sys", "README", "subfiles",
      "limits") ++ extra, "outDir's root")
    FeatureNames.foreach(n =>
      assert(new File(s"$out/$n/_SUCCESS").isFile, s"$n/_SUCCESS"))
  }

  /** `got` has [[checkLayout]]'s layout and, for each (table, level,
    * part index, file counter) of `want`, a byte-identical part file.
    * Returns the number of part files compared. */
  private def sameFeatureTables(got: String, want: String): Int = {
    checkLayout(got)
    FeatureNames.map { name =>
      val (g, w) = (partsByKey(s"$got/$name"), partsByKey(s"$want/$name"))
      assert(g.keySet == w.keySet, name)
      w.foreach { case (k, f) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(g(k).toPath),
          Files.readAllBytes(f.toPath)), s"$name $k ${g(k)} $f")
      }
      w.size
    }.sum
  }

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
      val decoded = t.decodedTiles()
      FdoSink.write(spark, t, header, src, out)
      val first = partFiles(out)
      FdoSink.write(spark, t, header, src, out)
      assert((partFiles(out) & first).isEmpty,
        "a part file of the first write survived the second")
      assert(t.decodedTiles() == decoded, "the write recomputed the build")
      val ref = tmp.resolve("ref").toString
      perTableParquet(t, ref)
      assert(sameFeatureTables(out, ref) > 0)
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

  test("feature tables roll files at maxRecordsPerFile as Spark's writer") {
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(41L, withAreas = true))
    val tmp = Files.createTempDirectory("graft-sink")
    val key = "spark.sql.files.maxRecordsPerFile"
    val t = MapPipeline.build(spark, path)
    spark.conf.set(key, "3")
    try {
      FdoSink.write(spark, t, Mapsforge.readHeader(path), path,
        tmp.resolve("db").toString)
      perTableParquet(t, tmp.resolve("ref").toString)
      assert(partsByKey(tmp.resolve("ref/lines").toString).keySet
        .exists(_._3 == "c001"), "the reference did not roll")
      assert(sameFeatureTables(tmp.resolve("db").toString,
        tmp.resolve("ref").toString) > 0)
    } finally { spark.conf.unset(key); t.release() }
  }

  test("map2db output dir: the tables, config.toml, nothing else") {
    val path = MapEncoder.writeToTemp(
      FusedBuildSpec.crossingMap(42L, withAreas = false))
    val tmp = Files.createTempDirectory("graft-sink")
    val out = tmp.resolve("db").toString
    FdoSink.map2db(spark, path, out)
    checkLayout(out, Set("config.toml"))
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

    // the parquet job cannot set up: `_temporary` is a regular file
    val out = Files.createTempDirectory("graft-sink")
    Files.createFile(out.resolve("_temporary"))
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[AbortCountingProtocol].getName)
    val aborted = AbortCountingProtocol.aborted.get
    try {
      intercept[java.io.IOException] {
        FdoSink.map2db(spark, path, out.toString)
      }
    } finally spark.conf.unset(key)
    assert(AbortCountingProtocol.aborted.get == aborted + 1, "job not aborted")
    assert(FeatureNames.forall(n => partFiles(out.resolve(n).toString).isEmpty))
    assert(!Files.exists(out.resolve("_temporary")), "_temporary left")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}

/** Spark's default commit protocol, counting the jobs it aborts. */
class AbortCountingProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def abortJob(ctx: JobContext): Unit = {
    AbortCountingProtocol.aborted.incrementAndGet()
    super.abortJob(ctx)
  }
}

object AbortCountingProtocol {
  val aborted = new AtomicInteger
}
