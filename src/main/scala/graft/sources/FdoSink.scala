package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MapPipeline
import graft.operators.MapPipeline.MapTables

/** FDO RFC 16 database sink (SURVEY.md §2c; map2db.py:129-255,
  * 1311-1528).
  *
  * The reference writes a single-node sqlite file; at 100 TB the
  * "database" is a directory of columnar tables with the same names,
  * columns and metadata rows — points/lines/areas plus
  * geometry_columns, spatial_ref_sys, README, subfiles and limits.
  * Geometry stays WKB, srid 1 = EPSG:4326, exactly as the reference
  * declares them (map2db.py:150-172).
  */
object FdoSink {

  val Wgs84Srtext: String =
    "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\"," +
      "6378137,298.257223563,AUTHORITY[\"EPSG\",\"7030\"]]," +
      "AUTHORITY[\"EPSG\",\"6326\"]]," +
      "PRIMEM[\"Greenwich\",0,AUTHORITY[\"EPSG\",\"8901\"]]," +
      "UNIT[\"degree\",0.0174532925199433,AUTHORITY[\"EPSG\",\"9122\"]]," +
      "AXIS[\"Latitude\",NORTH],AXIS[\"Longitude\",EAST]," +
      "AUTHORITY[\"EPSG\",\"4326\"]]"

  /** Write the full database directory. Feature tables partition by
    * m2db_level: the dominant read pattern is level-targeted (a map
    * build reads one zoom interval at a time), so level becomes a
    * directory key and those scans prune to one partition instead of
    * filtering the full table.
    *
    * The layout is what `df.write.mode(Overwrite).partitionBy(
    * "m2db_level").parquet(s"$outDir/<table>")` makes of each feature
    * table — `<table>/m2db_level=<L>/part-<task>-<job>.c000.snappy.parquet`
    * and `<table>/_SUCCESS`, an empty table's included — but all three
    * tables are written by ONE job over the relation the build persisted
    * and filled ([[writeFeatures]]): each task routes every cached row,
    * by its `table` and `m2db_level`, to a parquet writer for that
    * (table, level), and every file commits through one Spark
    * `FileCommitProtocol` over `outDir`. The five metadata tables are
    * rows the driver already holds: it writes them itself while that
    * job runs, and they cost no job. */
  def write(spark: SparkSession, tables: MapTables, header: Mapsforge.Header,
      srcPathname: String, outDir: String): Unit = {
    graft.Threads.inParallel(Seq(
      () => writeFeatures(spark, tables, outDir),
      () => metadataTables(spark, header, srcPathname).foreach {
        case (name, df) => saveLocal(spark, df, s"$outDir/$name")
      }))
    ()
  }

  /** The feature tables of [[write]], in one job over `tables.merged`.
    *
    *  - Writers: table `t`'s rows are [[MapTables.columns]] without
    *    `m2db_level` (one `UnsafeProjection` per table), written with
    *    the schema Spark's writer stores for them: those columns' names,
    *    types and nullability (a raw map's id is not nullable, a merged
    *    map's is). A task opens a (table, level) writer at its
    *    first row and keeps it open until the task ends, as the rows of
    *    the tables and levels interleave; so a task holds at most
    *    (feature tables × subfile levels) open writers, whose row
    *    groups parquet-mr's `MemoryManager` sizes. A writer rolls to
    *    its next file (`c001`, `c002`, …) after
    *    `spark.sql.files.maxRecordsPerFile` rows, as Spark's does.
    *  - Commit: one protocol of the session's
    *    `spark.sql.sources.commitProtocolClass` over `outDir`, each file
    *    under the relative dir `<table>/m2db_level=<L>`. A failed task
    *    closes its writers and aborts its attempt; a failed job is
    *    aborted; either way the cause is rethrown. Each table dir is
    *    replaced whole before the job (Overwrite), and the job's
    *    `_SUCCESS` marker goes in each table dir rather than in
    *    `outDir`, which gains no file of its own.
    *  - Plumbing: the per-table Hadoop confs (each set up by
    *    `ParquetFileFormat.prepareWrite` for its schema) are broadcast
    *    once, so an executor deserializes them once rather than each
    *    task; a task copies them before setting its own task ids. */
  private def writeFeatures(spark: SparkSession, tables: MapTables,
      outDir: String): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapred.JobID
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.TaskContext
    import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.datasources.OutputWriter
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{StructField, StructType}
    import org.apache.spark.util.SerializableConfiguration

    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val names = MapPipeline.FeatureTables.map(_._1)
    // planned afresh, so the scan reads the cache the build filled, or
    // recomputes once that is released
    val input = state.executePlan(tables.merged.queryExecution.analyzed)
    val inAttrs = input.executedPlan.output
    val (tableOrd, levelOrd) = (inAttrs.indexWhere(_.name == "table"),
      inAttrs.indexWhere(_.name == "m2db_level"))
    val projections = names.indices.map { t =>
      tables.merged.select(tables.columns(t): _*).queryExecution.analyzed match {
        case Project(cols, _) => cols.filterNot(_.name == "m2db_level")
      }
    }
    val schemas = projections.map(cols =>
      StructType(cols.map(c =>
        StructField(c.name, c.dataType, c.nullable, c.metadata))))
    val hadoopConf = state.newHadoopConf()
    val jobs = schemas.map { schema =>
      val job = Job.getInstance(hadoopConf)
      FileOutputFormat.setOutputPath(job, new Path(outDir))
      (job, new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema))
    }
    val factories = jobs.map(_._2)
    val commitJob = Job.getInstance(jobs.head._1.getConfiguration)
    commitJob.getConfiguration.setBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    val protocol = FileCommitProtocol.instantiate(state.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID.toString, outDir)
    val maxRecords = state.conf.maxRecordsPerFile
    val tracker = new java.text.SimpleDateFormat("yyyyMMddHHmmss",
      java.util.Locale.US).format(new java.util.Date)
    val sc = spark.sparkContext
    val confs = sc.broadcast(jobs.map(j =>
      new SerializableConfiguration(j._1.getConfiguration)))

    def task(ctx: TaskContext, rows: Iterator[InternalRow])
        : FileCommitProtocol.TaskCommitMessage = {
      val attempt = new TaskAttemptID(new TaskID(
        new JobID(tracker, ctx.stageId), TaskType.MAP, ctx.partitionId),
        ctx.attemptNumber)
      val contexts = confs.value.map { c =>
        val hc = new Configuration(c.value)
        hc.set("mapreduce.job.id", attempt.getJobID.toString)
        hc.set("mapreduce.task.id", attempt.getTaskID.toString)
        hc.set("mapreduce.task.attempt.id", attempt.toString)
        hc.setBoolean("mapreduce.task.ismap", true)
        hc.setInt("mapreduce.task.partition", 0)
        new TaskAttemptContextImpl(hc, attempt)
      }
      /** The files of one (table, level), one open at a time. */
      final class Writer(t: Int, level: Int) {
        private var file = -1
        private var rowsInFile = 0L
        private var out: OutputWriter = null
        def write(row: InternalRow): Unit = {
          if (out == null || (maxRecords > 0 && rowsInFile >= maxRecords)) {
            close()
            file += 1
            require(file < 1000, s"file counter $file is beyond 999")
            val path = protocol.newTaskTempFile(contexts(t),
              Some(s"${names(t)}/m2db_level=$level"), FileNameSpec("",
                f".c$file%03d" + factories(t).getFileExtension(contexts(t))))
            out = factories(t).newInstance(path, schemas(t), contexts(t))
            rowsInFile = 0
          }
          out.write(row)
          rowsInFile += 1
        }
        def close(): Unit =
          if (out != null) { val o = out; out = null; o.close() }
      }
      protocol.setupTask(contexts.head)
      val writers = scala.collection.mutable.HashMap.empty[(Int, Int), Writer]
      try {
        val project = projections.map(UnsafeProjection.create(_, inAttrs))
        rows.foreach { row =>
          val t = row.getInt(tableOrd)
          require(!row.isNullAt(levelOrd), s"${names(t)} row without a level")
          val level = row.getInt(levelOrd)
          writers.getOrElseUpdate((t, level), new Writer(t, level))
            .write(project(t)(row))
        }
        writers.values.foreach(_.close())
        protocol.commitTask(contexts.head)
      } catch {
        case e: Throwable =>
          try {
            writers.values.foreach(w =>
              try w.close() catch { case c: Throwable => e.addSuppressed(c) })
            protocol.abortTask(contexts.head)
          } catch { case a: Throwable => e.addSuppressed(a) }
          throw e
      }
    }

    try {
      val fs = new Path(outDir).getFileSystem(hadoopConf)
      names.foreach(n => fs.delete(new Path(outDir, n), true))
      try {
        protocol.setupJob(commitJob)
        protocol.commitJob(commitJob, sc.runJob(input.toRdd, task _).toSeq)
      } catch {
        case e: Throwable =>
          try protocol.abortJob(commitJob)
          catch { case a: Throwable => e.addSuppressed(a) }
          throw e
      }
      names.foreach(n => fs.create(new Path(outDir, s"$n/_SUCCESS")).close())
    } finally confs.destroy()
  }

  /** The five metadata tables of the parquet directory, by name, as
    * local relations of rows the driver holds. */
  private[graft] def metadataTables(spark: SparkSession,
      header: Mapsforge.Header, srcPathname: String)
      : Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq(
      // geometry_columns: 4=MultiPoint, 5=MultiLineString,
      // 6=MultiPolygon (map2db.py:196-241)
      "geometry_columns" -> Seq(
        ("points", "m2db_geometry", 4, 2, 1, "WKB"),
        ("lines", "m2db_geometry", 5, 2, 1, "WKB"),
        ("areas", "m2db_geometry", 6, 2, 1, "WKB"))
        .toDF("f_table_name", "f_geometry_column", "geometry_type",
          "coord_dimension", "srid", "geometry_format"),
      "spatial_ref_sys" -> Seq((1, "EPSG", 4326, Wgs84Srtext))
        .toDF("srid", "auth_name", "auth_srid", "srtext"),
      "README" -> readmeRows(header, srcPathname).toDF("desc", "text"),
      "subfiles" -> header.subfiles.map(sf =>
        (sf.index, sf.level, sf.minzoom, sf.maxzoom))
        .toDF("subfile_num", "level", "minzoom", "maxzoom"),
      "limits" -> Seq(
        ("minlat", header.minLat), ("minlon", header.minLon),
        ("maxlat", header.maxLat), ("maxlon", header.maxLon))
        .toDF("key", "value"))
  }

  /** `df.write.mode(SaveMode.Overwrite).parquet(dir)` for a local
    * relation, without a job: the driver runs Spark's own parquet
    * writer over the relation's rows, into one part file and the
    * `_SUCCESS` marker, through the Hadoop `FileSystem` of `dir`. */
  private def saveLocal(spark: SparkSession, df: DataFrame, dir: String)
      : Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val out = new Path(dir)
    val fs = out.getFileSystem(job.getConfiguration)
    fs.delete(out, true)
    fs.mkdirs(out)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, df.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = new Path(out, s"part-00000-${java.util.UUID.randomUUID}" +
      s"-c000${factory.getFileExtension(ctx)}")
    val w = factory.newInstance(file.toString, df.schema, ctx)
    // a local relation's physical plan is a LocalTableScan, whose
    // collect hands back its rows without running a job
    try df.queryExecution.executedPlan.executeCollect().foreach(w.write)
    finally w.close()
    fs.create(new Path(out, "_SUCCESS")).close()
  }

  /** README rows (map2db.py:1365-1442,1521-1528), shared by the
    * parquet and SQLite sinks. */
  def readmeRows(header: Mapsforge.Header, srcPathname: String)
      : Seq[(String, String)] = {
    val (dblDesc, dblText) = header.dblString match {
      case Some(s) =>
        ("Text that was encoded in the map file specifically so that it" +
          " could be included here.", s)
      case None => ("Text generated by graft", nonDblReadme(srcPathname))
    }
    Seq(
      (dblDesc, dblText),
      ("Text generated by graft",
        s"(This database was recreated from $srcPathname by graft.)")) ++
      header.comment.map(c =>
        ("Text from the 'comment' field in the file header of the map" +
          " file from which this database was recreated. This often" +
          " includes a copyright and/or license statement for the map" +
          " file (not for this database!).", c)) ++
      header.createdBy.map(c =>
        ("Text from the 'created by' field in the file header of the" +
          " map file from which this database was recreated. Per the" +
          " specification for the Mapsforge Binary Map File Format," +
          " this should be the name of the application which created" +
          " the map file.", c)) ++
      Seq(("Text generated by graft", "(database recreation completed.)"))
  }

  /** README text for a map without dbl feature ids
    * (map2db.py:1374-1398): raw tile content, ring-inferred
    * line/area split, no license statement. */
  def nonDblReadme(srcPathname: String): String =
    s"The map file from which this database was created," +
      s" '$srcPathname', does not appear to have been created by" +
      " forgemap with the dbl option.  Thus, this database includes" +
      " the raw content from all tiles rather than a properly" +
      " reconstructed database with various parts of each feature" +
      " merged together and more simplified versions of such features" +
      " discarded in favor of the less simplified versions.  The dbl" +
      " option of forgemap also explicitly encodes whether the source" +
      " geometry was a line or area feature.  Since this information" +
      " is not available, way features in which every coordinate" +
      " block forms a closed ring with at least four points are" +
      " assumed to be areas, while the remainder are assumed to be" +
      " lines.  This may misclassify some features as areas that" +
      " should have been lines.  Since not all closed rings of at" +
      " least four points are valid, this may produce unexpected" +
      " results.\nSince no database license statement was encoded in" +
      " the map file, the user is responsible for determining what" +
      " legal restrictions apply to use of this database."

  /** Single-file SQLite export — the reference's actual deliverable
    * (map2db.py:129-255, 1311-1345): the same tables, columns and
    * metadata rows as [[write]], in one `.db` file an FDO viewer or
    * forgemap can open directly. Both sides of the driver stream: the
    * build's merged relation arrives once, sorted by (table, fid), one
    * partition at a time (toLocalIterator), and completed output pages
    * spill to the file as the writer's bounded page cache fills
    * (SqliteWriter.MaxCachedPages), so peak driver memory is partition
    * + fringe, not the database image. The rows arrive as finished
    * records ([[sqliteRecords]]), so the driver only packs pages. The
    * writer drains its tables in order, so points, lines and areas each
    * take their consecutive run of that one iterator, in ascending
    * rowid order as b-tree leaves need. The single-file analogue of
    * `coalesce(1)`: right for sub-cluster outputs, while the parquet
    * directory remains the cluster-scale form. Divergence:
    * `spatial_ref_sys.srid` drops the reference's UNIQUE constraint (it
    * would require an index b-tree; the table holds one row). */
  def writeSqlite(spark: SparkSession, tables: MapTables,
      header: Mapsforge.Header, srcPathname: String, path: String): Unit = {
    import scala.jdk.CollectionConverters._
    import SqliteWriter.{Record, Table}

    val rows = sqliteRecords(tables).toLocalIterator().asScala.buffered

    def featureTable(t: Int): Table = {
      val (name, idCol) = MapPipeline.FeatureTables(t)
      val sqlType = Map("m2db_geometry" -> "BLOB", "m2db_tags" -> "TEXT")
      // quote every identifier: vtag keys may contain ':' etc.; an
      // embedded '"' doubles per SQLite quoting rules (readSqliteTable's
      // parser undoes the same escape)
      def q(ident: String): String =
        "\"" + ident.replace("\"", "\"\"") + "\""
      val colDefs = (s"""${q(idCol)} INTEGER PRIMARY KEY""" +:
        (SqliteBase.map(c => s"""${q(c)} ${sqlType.getOrElse(c, "INTEGER")}""") ++
          tables.keys(t).map(k => s"""${q(k)} TEXT""")))
        .mkString(", ")
      Table(name, s"CREATE TABLE $name ($colDefs)",
        new Iterator[Record] {
          override def hasNext: Boolean =
            rows.hasNext && rows.head.getInt(0) == t
          override def next(): Record = {
            val r = rows.next()
            Record(r.getLong(1), r.getAs[Array[Byte]](2))
          }
        })
    }

    SqliteWriter.write(path, sqliteTables(header, srcPathname,
      MapPipeline.FeatureTables.indices.map(featureTable)))
  }

  /** The feature tables' SQLite columns after the id. */
  private val SqliteBase = Seq("m2db_level", "m2db_minz", "m2db_maxz",
    "m2db_geometry", "m2db_layer_num", "m2db_tags")

  /** The SQLite pass over the build's merged relation: `table`, `fid`
    * and each row's finished SQLite `record`, in (table, fid) order.
    * The record is encoded in the tasks that read the cached relation,
    * before the sort's exchange, so the encoding runs on every core and
    * the exchange and the sort carry three columns: the id column (the
    * rowid alias, stored as NULL), the m2db columns, then the table's
    * vtag columns, each read from `vtags` by its key (NULL when the row
    * lacks it). */
  private[graft] def sqliteRecords(tables: MapTables): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    def recordOf(t: Int) = SqliteWriter.recordColumn(lit(null) +:
      (SqliteBase.map(col) ++ tables.keys(t).map(col("vtags").getItem)))
    val ts = MapPipeline.FeatureTables.indices
    val record = ts.tail.foldLeft(when(col("table") === ts.head,
      recordOf(ts.head)))((w, t) => w.when(col("table") === t, recordOf(t)))
    tables.merged
      .select(col("table"), col("fid"), record.as("record"))
      .orderBy(col("table"), col("fid"))
  }

  /** The SQLite file's tables in file order: the metadata tables
    * around `features`, the points, lines and areas tables. */
  private[graft] def sqliteTables(header: Mapsforge.Header,
      srcPathname: String, features: Seq[SqliteWriter.Table])
      : Seq[SqliteWriter.Table] = {
    import SqliteWriter.Table
    Seq(
      Table.fromRows("geometry_columns",
        "CREATE TABLE geometry_columns (f_table_name TEXT, " +
          "f_geometry_column TEXT, geometry_type INTEGER, " +
          "coord_dimension INTEGER, srid INTEGER, geometry_format TEXT)",
        Iterator(
          Seq("points", "m2db_geometry", 4L, 2L, 1L, "WKB"),
          Seq("lines", "m2db_geometry", 5L, 2L, 1L, "WKB"),
          Seq("areas", "m2db_geometry", 6L, 2L, 1L, "WKB"))),
      Table.fromRows("spatial_ref_sys",
        "CREATE TABLE spatial_ref_sys (srid INTEGER, auth_name TEXT, " +
          "auth_srid INTEGER, srtext TEXT)",
        Iterator(Seq(1L, "EPSG", 4326L, Wgs84Srtext))),
      Table.fromRows("README", "CREATE TABLE README (desc TEXT, text TEXT)",
        readmeRows(header, srcPathname).iterator
          .map { case (d, x) => Seq(d, x) })) ++ features ++ Seq(
      Table.fromRows("subfiles",
        "CREATE TABLE subfiles (subfile_num INTEGER PRIMARY KEY, " +
          "level INTEGER, minzoom INTEGER, maxzoom INTEGER)",
        header.subfiles.iterator.map(sf =>
          Seq(sf.index.toLong, sf.level.toLong, sf.minzoom.toLong,
            sf.maxzoom.toLong)),
        rowidCol = Some(0)),
      Table.fromRows("limits", "CREATE TABLE limits (key TEXT, value REAL)",
        Iterator(
          Seq("minlat", header.minLat), Seq("minlon", header.minLon),
          Seq("maxlat", header.maxLat), Seq("maxlon", header.maxLon))))
  }

  /** Inverse direction: load a table of an FDO RFC 16 SQLite database
    * (ours, or one the REFERENCE itself produced) into a DataFrame —
    * what a migrating map2db user has on disk today. Driver-side like
    * writeSqlite (sub-cluster file sizes); the schema derives from the
    * declared column types, and an INTEGER PRIMARY KEY column is
    * materialized from the rowid (SQLite stores the alias as NULL). */
  def readSqliteTable(spark: SparkSession, path: String, table: String)
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val db = new SqliteWriter.Reader.Db(path)
    val (_, createSql) = db.master(table)
    // parse "CREATE TABLE name (col TYPE, ...)" — depth-0 comma split
    val body = createSql.substring(createSql.indexOf('(') + 1,
      createSql.lastIndexOf(')'))
    val defs = {
      // split on depth-0 commas, but a quoted identifier may itself
      // contain ',', '(' or ')' (vtag keys are arbitrary strings) —
      // inside "..." nothing counts as a delimiter ("" stays an
      // escaped quote, not a close+open)
      val out = Seq.newBuilder[String]
      var depth = 0; var inQuote = false; val cur = new StringBuilder
      body.foreach { c =>
        if (inQuote) {
          cur += c
          if (c == '"') inQuote = false // "" re-toggles on next char
        } else if (c == ',' && depth == 0) {
          out += cur.toString; cur.clear()
        } else {
          if (c == '"') inQuote = true
          else if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          cur += c
        }
      }
      out += cur.toString
      out.result().map(_.trim).filter(_.nonEmpty)
    }
    val cols = defs.map { d =>
      val (name, rest) =
        if (d.startsWith("\"")) {
          // a doubled "" inside the quotes is an escaped quote, not
          // the terminator (mirror of featureTable's writer escape)
          val sb = new StringBuilder
          var i = 1; var closed = false
          while (!closed && i < d.length) {
            val c = d.charAt(i)
            if (c == '"') {
              if (i + 1 < d.length && d.charAt(i + 1) == '"') {
                sb += '"'; i += 2
              } else { closed = true; i += 1 }
            } else { sb += c; i += 1 }
          }
          (sb.toString, d.substring(i).trim)
        } else {
          val sp = d.indexOf(' ')
          if (sp < 0) (d, "") else (d.take(sp), d.drop(sp + 1).trim)
        }
      (name, rest.toUpperCase)
    }
    val ipk = cols.indexWhere(_._2.startsWith("INTEGER PRIMARY KEY"))
    val schema = StructType(cols.map { case (n, t) =>
      StructField(n,
        if (t.startsWith("INTEGER")) LongType
        else if (t.startsWith("REAL")) DoubleType
        else if (t.startsWith("BLOB")) BinaryType
        else StringType,
        nullable = true)
    })
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    db.tableRows(table).foreach { case (rowid, shortVals) =>
      // records written before an ALTER TABLE ADD COLUMN store fewer
      // columns than the final schema (the reference's own databases
      // migrate vtag columns this way, map2db.py:865,945,1051) — SQLite
      // semantics fill the missing tail with NULL
      val vals =
        if (shortVals.length >= schema.length) shortVals
        else shortVals ++ Seq.fill(schema.length - shortVals.length)(null)
      val coerced = vals.zipWithIndex.map { case (v, i) =>
        val want = schema(i).dataType
        (if (i == ipk) rowid else v) match {
          case null => null
          case l: Long if want == DoubleType => l.toDouble
          case l: Long if want == StringType => l.toString
          case d: Double if want == LongType => d.toLong
          case other => other
        }
      }
      rows.add(Row.fromSeq(coerced))
    }
    spark.createDataFrame(rows, schema)
  }

  /** forgemap TOML config (map2db.py:1185-1308). Layer-specific
    * source columns match the reference: points carry elevation,
    * lines/areas carry reference + label coordinates. */
  def configToml(header: Mapsforge.Header, dbPathname: String,
      vtagKeys: Seq[String]): String = {
    val sb = new StringBuilder
    sb ++= "## This is a configuration file for forgemap.\n"
    sb ++= "## It was created by graft to facilitate building a new" +
      s" mapsforge map from the output database: \"$dbPathname\".\n"
    sb ++= "## See the forgemap documentation for a full explanation" +
      " of the content of this configuration file.\n\n"
    sb ++= "## name of the mapsforge file to produce.\n"
    sb ++= s"output_pathname = \"$dbPathname.map\"\n"
    sb ++= s"dbl = \"\"\"${header.dblString.getOrElse("")}\"\"\"\n"
    sb ++= s"minlat = ${header.minLat}\nmaxlat = ${header.maxLat}\n"
    sb ++= s"minlon = ${header.minLon}\nmaxlon = ${header.maxLon}\n"
    header.startLat.foreach(v => sb ++= s"start_lat = $v\n")
    header.startLon.foreach(v => sb ++= s"start_lon = $v\n")
    header.startZoom.foreach(v => sb ++= s"start_zoom = $v\n")
    header.comment.foreach(v => sb ++= s"comment_str = \"\"\"$v\"\"\"\n")
    header.createdBy.foreach(v => sb ++= s"created_by = \"\"\"$v\"\"\"\n")
    val userKeys = vtagKeys.filterNot(Set("m2db_name", "m2db_house_num",
      "m2db_elevation", "m2db_reference", "m2db_label_lat",
      "m2db_label_lon"))
    var valueTags = ""
    if (userKeys.nonEmpty) {
      valueTags = userKeys
        .map(k => s"    {column_name = \"$k\"},\n")
        .mkString("value_tags = [\n", "", "]\n")
      sb ++= "## tags whose \"key\" is in variable_tags will have" +
        " their \"value\" encoded with each individual feature.  This" +
        " is useful for widely used keys whose values are each used" +
        " by only one (or a few) features.\n"
      sb ++= "variable_tags = [\n"
      userKeys.foreach(k => sb ++= s"    \"$k\",\n")
      sb ++= "]\n"
    }
    sb ++= "## [[map_data]] is a list of tables, each of which" +
      " defines a subfile that will contain the vector map data for" +
      " a specified zoom interval.  These must be in order from" +
      " smallest to largest.  All values must be integers.\n"
    sb ++= "## For each subfile: minzoom <= level <= maxzoom\n"
    sb ++= "## map_data[i][maxzoom] < map_data[i+1][minzoom]\n"
    sb ++= "## (Typically: map_data[i][maxzoom] + 1 =" +
      " map_data[i+1][minzoom])\n"
    header.subfiles.foreach { sf =>
      sb ++= s"[[map_data]]\nminzoom = ${sf.minzoom}\n" +
        s"level = ${sf.level}\nmaxzoom = ${sf.maxzoom}\n\n"
    }
    // nosimplify = level of the last subfile: database contents are
    // suitable for at least this subfile without simplification.
    val nosimplify = header.subfiles.last.level
    sb ++= "## [[sources]] is a list of tables, each of which defines" +
      " a datafile from which source data will be read, and how that" +
      " data will be interpreted.  More than one source may use the" +
      " same datafile, so that different subsets of data from that" +
      " datafile may be interpreted differently.  This is done by" +
      " using different layer or sql settings.\n"
    Seq("points", "lines", "areas").foreach { layer =>
      sb ++= s"[[sources]]\npathname = \"$dbPathname\"\n"
      sb ++= s"layer = \"$layer\"\nname_column = \"m2db_name\"\n"
      sb ++= "house_num_column = \"m2db_house_num\"\n"
      if (layer == "points")
        sb ++= "elevation_column = \"m2db_elevation\"\n"
      else {
        sb ++= "reference_column = \"m2db_reference\"\n"
        sb ++= "label_lat_column = \"m2db_label_lat\"\n"
        sb ++= "label_lon_column = \"m2db_label_lon\"\n"
      }
      sb ++= s"nosimplify = $nosimplify\n"
      sb ++= "minzoom_column = \"m2db_minz\"\n"
      sb ++= "maxzoom_column = \"m2db_maxz\"\n"
      sb ++= "json_tags = [\"m2db_tags\"]\n"
      sb ++= valueTags
      sb ++= "\n"
    }
    sb.toString
  }

  /** Top-level equivalent of the reference's `map2db()` entry
    * (map2db.py:1311-1528): pick the merged (dbl) or raw (non-dbl)
    * pipeline from the header, write the RFC16 table directory, and
    * for dbl maps also emit the forgemap config next to it. Returns
    * the tables for further use. */
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.FdoSink")

  /** Console-progress parity with the reference's `_progress`
    * (map2db.py:731-744): the reference prints per-tile percentages
    * because its walk is a serial Python loop; here the tiles decode
    * as parallel tasks (the Spark UI is the per-task view and the
    * `graft.badTiles` accumulator the fault counter), so the
    * driver-side equivalent is one line per pipeline STAGE. `progress`
    * defaults to the slf4j logger — never stdout, which belongs to
    * the bench's one-line JSON contract — and is injectable so specs
    * capture the lines the way MapsforgeSpec captures the license
    * print. */
  def map2db(spark: SparkSession, srcPathname: String, outDir: String,
      sqliteFile: Option[String] = None,
      progress: String => Unit = log.info(_)): MapTables = {
    val header = Mapsforge.readHeader(srcPathname)
    val nTiles = header.subfiles.map(sf =>
      (sf.maxX - sf.minX + 1) * (sf.maxY - sf.minY + 1)).sum
    progress(s"map2db: header parsed — ${header.subfiles.size} " +
      s"subfiles, $nTiles indexed tiles, dbl=${header.isDbl}")
    val tables =
      if (header.isDbl) MapPipeline.build(spark, srcPathname)
      else MapPipeline.buildRaw(spark, srcPathname)
    progress("map2db: decode→clip→merge plan built (" +
      (if (header.isDbl) "dbl cross-level merge" else "raw per-tile") + ")")
    // The sinks are the last consumers of the build's cached relation;
    // drop it whether they succeed or not. The returned tables stay
    // valid (they recompute if acted on again).
    try {
      // optional drop-in-parity artifact: the reference's single-file
      // SQLite form. Both sinks only read the cached relation, so the
      // parquet job runs on a pool thread beside the SQLite pass and
      // fills the cores that the pass's one-partition fetches and
      // driver-side page packing leave idle. The SQLite pass keeps the
      // calling thread; a failure surfaces once both sinks have ended.
      graft.Threads.alongside(() => write(spark, tables, header,
          srcPathname, outDir)) {
        sqliteFile.foreach(writeSqlite(spark, tables, header, srcPathname, _))
      }
      progress(s"map2db: tables sunk to '$outDir'")
      sqliteFile.foreach(p =>
        progress(s"map2db: single-file SQLite written to '$p'"))
      if (header.isDbl) {
        val toml = configToml(header, outDir, tables.vtagKeys)
        val p = java.nio.file.Paths.get(outDir, "config.toml")
        java.nio.file.Files.write(p,
          toml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        progress("map2db: forgemap config.toml emitted")
      }
    } finally tables.release()
    tables
  }
}
