package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
    * filtering the full table. */
  def write(spark: SparkSession, tables: MapTables, header: Mapsforge.Header,
      srcPathname: String, outDir: String): Unit = {
    import spark.implicits._

    def save(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
    def saveByLevel(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).partitionBy("m2db_level")
        .parquet(s"$outDir/$name")

    // r17 (guide §2.6): the eight sink outputs are INDEPENDENT jobs
    // over different directories — submit them from a small pool so
    // each job's tasks back-fill the previous job's tail instead of
    // paying eight sequential per-job scheduling floors. The three
    // feature tables are filters of the relation the build persisted
    // and filled, so the writes read cached rows.
    graft.Threads.inParallel(Seq(
      () => saveByLevel(tables.points, "points"),
      () => saveByLevel(tables.lines, "lines"),
      () => saveByLevel(tables.areas, "areas"),
      // geometry_columns: 4=MultiPoint, 5=MultiLineString,
      // 6=MultiPolygon (map2db.py:196-241)
      () => save(Seq(
        ("points", "m2db_geometry", 4, 2, 1, "WKB"),
        ("lines", "m2db_geometry", 5, 2, 1, "WKB"),
        ("areas", "m2db_geometry", 6, 2, 1, "WKB"))
        .toDF("f_table_name", "f_geometry_column", "geometry_type",
          "coord_dimension", "srid", "geometry_format"),
        "geometry_columns"),
      () => save(Seq((1, "EPSG", 4326, Wgs84Srtext))
        .toDF("srid", "auth_name", "auth_srid", "srtext"),
        "spatial_ref_sys"),
      () => save(readmeRows(header, srcPathname).toDF("desc", "text"),
        "README"),
      () => save(header.subfiles.map(sf =>
        (sf.index, sf.level, sf.minzoom, sf.maxzoom))
        .toDF("subfile_num", "level", "minzoom", "maxzoom"),
        "subfiles"),
      () => save(Seq(
        ("minlat", header.minLat), ("minlon", header.minLon),
        ("maxlat", header.maxLat), ("maxlon", header.maxLon))
        .toDF("key", "value"), "limits")))
    ()
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
    * forgemap can open directly. Both sides of the driver stream:
    * input rows arrive one partition at a time (toLocalIterator) and
    * completed output pages spill to the file as the writer's bounded
    * page cache fills (SqliteWriter.MaxCachedPages), so peak driver
    * memory is partition + fringe, not the database image. The
    * single-file analogue of `coalesce(1)`: right for sub-cluster
    * outputs, while the parquet directory remains the cluster-scale
    * form. Divergence: `spatial_ref_sys.srid` drops the reference's
    * UNIQUE constraint (it would require an index b-tree; the table
    * holds one row). */
  def writeSqlite(spark: SparkSession, tables: MapTables,
      header: Mapsforge.Header, srcPathname: String, path: String): Unit = {
    import SqliteWriter.Table

    def featureTable(df: DataFrame, idCol: String, name: String): Table = {
      val base = Seq(idCol, "m2db_level", "m2db_minz", "m2db_maxz",
        "m2db_geometry", "m2db_layer_num", "m2db_tags")
      val vtagCols = df.columns.filterNot(base.contains).toSeq
      val ordered = base ++ vtagCols
      val sqlType = Map("m2db_geometry" -> "BLOB", "m2db_tags" -> "TEXT")
      // quote every identifier: vtag keys may contain ':' etc.; an
      // embedded '"' doubles per SQLite quoting rules (readSqliteTable's
      // parser undoes the same escape)
      def q(ident: String): String =
        "\"" + ident.replace("\"", "\"\"") + "\""
      val colDefs = (s"""${q(idCol)} INTEGER PRIMARY KEY""" +:
        ordered.tail.map(c =>
          s"""${q(c)} ${sqlType.getOrElse(c,
            if (vtagCols.contains(c)) "TEXT" else "INTEGER")}"""))
        .mkString(", ")
      // b-tree leaves must ascend by rowid — sort by the id column
      val proj = df
        .select(ordered.map(org.apache.spark.sql.functions.col): _*)
        .orderBy(org.apache.spark.sql.functions.col(idCol))
      val it = proj.toLocalIterator()
      Table(name, s"CREATE TABLE $name ($colDefs)",
        new Iterator[Seq[Any]] {
          override def hasNext: Boolean = it.hasNext
          override def next(): Seq[Any] = {
            val r = it.next()
            (0 until r.length).map(i => r.get(i))
          }
        },
        rowidCol = Some(0))
    }

    val t = Seq(
      Table("geometry_columns",
        "CREATE TABLE geometry_columns (f_table_name TEXT, " +
          "f_geometry_column TEXT, geometry_type INTEGER, " +
          "coord_dimension INTEGER, srid INTEGER, geometry_format TEXT)",
        Iterator(
          Seq("points", "m2db_geometry", 4L, 2L, 1L, "WKB"),
          Seq("lines", "m2db_geometry", 5L, 2L, 1L, "WKB"),
          Seq("areas", "m2db_geometry", 6L, 2L, 1L, "WKB"))),
      Table("spatial_ref_sys",
        "CREATE TABLE spatial_ref_sys (srid INTEGER, auth_name TEXT, " +
          "auth_srid INTEGER, srtext TEXT)",
        Iterator(Seq(1L, "EPSG", 4326L, Wgs84Srtext))),
      Table("README", "CREATE TABLE README (desc TEXT, text TEXT)",
        readmeRows(header, srcPathname).iterator
          .map { case (d, x) => Seq(d, x) }),
      featureTable(tables.points, "m2db_pnum", "points"),
      featureTable(tables.lines, "m2db_lnum", "lines"),
      featureTable(tables.areas, "m2db_anum", "areas"),
      Table("subfiles",
        "CREATE TABLE subfiles (subfile_num INTEGER PRIMARY KEY, " +
          "level INTEGER, minzoom INTEGER, maxzoom INTEGER)",
        header.subfiles.iterator.map(sf =>
          Seq(sf.index.toLong, sf.level.toLong, sf.minzoom.toLong,
            sf.maxzoom.toLong)),
        rowidCol = Some(0)),
      Table("limits", "CREATE TABLE limits (key TEXT, value REAL)",
        Iterator(
          Seq("minlat", header.minLat), Seq("minlon", header.minLon),
          Seq("maxlat", header.maxLat), Seq("maxlon", header.maxLon))))
    SqliteWriter.write(path, t)
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
    import graft.operators.MapPipeline
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
    write(spark, tables, header, srcPathname, outDir)
    progress(s"map2db: tables sunk to '$outDir'")
    // optional drop-in-parity artifact: the reference's single-file
    // SQLite form (reads the same cached tables the sink just wrote)
    sqliteFile.foreach { p =>
      writeSqlite(spark, tables, header, srcPathname, p)
      progress(s"map2db: single-file SQLite written to '$p'")
    }
    if (header.isDbl) {
      val toml = configToml(header, outDir, tables.vtagKeys)
      val p = java.nio.file.Paths.get(outDir, "config.toml")
      java.nio.file.Files.write(p,
        toml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      progress("map2db: forgemap config.toml emitted")
    }
    // The sink was the last consumer of the build's cached relations;
    // drop them. The returned tables stay valid (they recompute if
    // acted on again).
    tables.release()
    tables
  }
}
