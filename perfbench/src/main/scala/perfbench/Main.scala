package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Sessions, SparkEntry}
import graft.functions.GeomOps
import graft.operators.{FeatureMerge, MapPipeline, Similarity}
import graft.sources.{FdoSink, Mapsforge}

/** The JVM half of the benchmark: sets up a local session, runs one
  * workload as a single closed-loop client (the next op starts when the
  * previous one returned) and writes a JSON report for `run.py`, which
  * checks the query outputs against their DuckDB oracles and prints the
  * metrics.
  *
  * {{{
  * perfbench.Main --workload map2db|corpus_prep --seed N
  *   --seconds S --trace 0|1 --work DIR --data DIR --cores C
  * }}}
  *
  * An untraced run sets up several times (the last session is kept)
  * and then repeats whole passes over the workload's ops until `seconds`
  * have elapsed, at least once; each pass registers a `StageCpu`
  * listener for its critical-path CPU time. A traced run sets up once
  * and makes one pass with the listener, plan counter, pin sampler and
  * spans on; for `map2db` it then runs the pipeline's stages one by one
  * and makes one more pass on every core and one on a single core.
  * Every pass after the first starts a new session: graft's operator
  * caches are keyed by session, so a pass never reuses what an earlier
  * one cached.
  */
object Main {

  final case class Op(key: String, call: Int, latency: Double, out: String,
      error: Option[String] = None, check: Option[String] = None)
  /** One pass: its wall time, the process CPU time it took (every
    * thread of the JVM, Spark's executors included) and its
    * critical-path CPU time (the client thread's CPU time plus, per
    * stage, the larger of its longest task's CPU time and its tasks'
    * total over the cores). */
  final case class Pass(wall: Double, cpu: Double, path: Double, ops: Seq[Op])

  val CorpusText: Seq[String] = Seq("d02_minhash_lsh", "d20_dedup_corpus",
    "d21_pipeline_e2e", "t11_boiler_strip", "t26_char_entropy",
    "t41_crawl_e2e", "d93_winnowing")
  /** Index-backed keys: the first call builds the index, the second
    * only searches it. */
  val CorpusIndex: Seq[String] = Seq("d84_graph_search")
  /** Relational and geometry keys over the same tables: aggregation,
    * polyline geometry. */
  val CorpusRelational: Seq[String] = Seq("q01_pricing_summary",
    "g11_polyline_length")

  /** The module each key's function lives in, for span names. */
  val Module: Map[String, String] = Map(
    "d02_minhash_lsh" -> "Dedup", "d20_dedup_corpus" -> "Dedup",
    "d21_pipeline_e2e" -> "PipelineE2e", "t11_boiler_strip" -> "TextAnalysis",
    "t26_char_entropy" -> "TextAnalysis", "t41_crawl_e2e" -> "CrawlE2e",
    "d93_winnowing" -> "DataSelection",
    "d84_graph_search" -> "Similarity",
    "q01_pricing_summary" -> "Relational",
    "g11_polyline_length" -> "MapOps")

  val MaxPasses = 50

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** Bytes of the regular files under `path` whose names pass `keep`. */
  def bytesUnder(path: String, keep: String => Boolean = _ => true): (Long, Long) = {
    val f = new File(path)
    if (f.isFile) (if (keep(f.getName)) (f.length, 1L) else (0L, 0L))
    else Option(f.listFiles).toSeq.flatten
      .map(c => bytesUnder(c.getPath, keep))
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
  }

  private def parquetFile(name: String): Boolean = name.endsWith(".parquet")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    new File(work).mkdirs()
    val run = workload match {
      case "map2db" => new MapRun(work, seed, cores)
      case "corpus_prep" =>
        new QueryRun(work, new File(opt("data")).getAbsolutePath, seed, cores)
      case other => sys.error(s"unknown workload '$other'")
    }
    val report = if (traced) run.traced() else run.untraced(seconds)
    Files.writeString(Paths.get(work, "result.json"), report)
  }

  /** One workload: its inputs, set-up, pass and output check. */
  abstract class Workload(val name: String, work: String, seed: Long,
      cores: Int, setups: Int) {
    protected var spark: SparkSession = _
    protected var pass = 0

    /** Checks the inputs exist and runs the warm-up; the same every run. */
    def warmUp(): Unit
    /** One pass over every op, in the seed's order. */
    def runPass(tracer: Option[Tracer]): Pass
    /** Bytes the program wrote per byte of input, over `passes`. */
    def outPerIn(passes: Seq[Pass]): Double
    /** Checks the ops' outputs that the JVM can check itself. */
    def check(passes: Seq[Pass]): Seq[Pass] = passes
    /** Per-layer metrics of a traced run beyond the engine's, and any
      * further passes made to get them (their outputs are checked too). */
    def layers(tracer: Tracer, traced: Pass): (Map[String, Double], Seq[Pass])

    protected def session(c: Int = cores): Unit = {
      if (spark != null) spark.stop()
      spark = Sessions.local(c.toString)
    }

    protected def nextOut(): String = {
      val d = s"$work/out/p$pass"
      new File(d).mkdirs()
      d
    }

    protected def timedPass(ops: => Seq[Op]): Pass = {
      val stages = new StageCpu
      spark.sparkContext.addSparkListener(stages)
      val (t0, c0, d0) =
        (now, os.getProcessCpuTime, threads.getCurrentThreadCpuTime)
      val done = ops
      val (wall, cpu, client) = (secs(t0), os.getProcessCpuTime - c0,
        threads.getCurrentThreadCpuTime - d0)
      Tracer.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(stages)
      pass += 1
      Pass(wall, cpu / 1e9, (client + stages.criticalNs(cores)) / 1e9, done)
    }

    def untraced(seconds: Double): String = {
      val setupTimes = (1 to setups).map { _ =>
        val (t0, c0) = (now, os.getProcessCpuTime)
        session()
        warmUp()
        (secs(t0), (os.getProcessCpuTime - c0) / 1e9)
      }
      val t0 = now
      val passes = Vector.newBuilder[Pass]
      var n = 0
      while (n == 0 || (secs(t0) < seconds && n < MaxPasses)) {
        if (n > 0) session()
        passes += runPass(None)
        n += 1
      }
      val t1 = now
      val checked = check(passes.result())
      val out = Json.obj("workload" -> name, "cores" -> cores,
        "setup_s" -> setupTimes.map(_._1), "setup_cpu_s" -> setupTimes.map(_._2),
        "check_s" -> secs(t1), "passes" -> checked.map(passJson),
        "out_per_in" -> outPerIn(checked))
      spark.stop()
      out
    }

    def traced(): String = {
      session()
      warmUp()
      val tracer = new Tracer(spark, s"$name-seed$seed")
      tracer.start()
      val traced = tracer.spans("run")(runPass(Some(tracer)))
      tracer.stop()
      val (extra, more) = layers(tracer, traced)
      val e = tracer.engine
      val engine = Map(
        "spark.jobs" -> e.jobs.toDouble, "spark.tasks" -> e.tasks.toDouble,
        "spark.executor_run_s" -> e.runMs / 1e3,
        "spark.executor_cpu_s" -> e.cpuNs / 1e9,
        "spark.gc_s" -> e.gcMs / 1e3,
        "spark.spill_bytes" -> e.spillBytes.toDouble,
        "spark.shuffle_bytes" -> e.shuffleBytes.toDouble,
        "spark.idle_core_frac" -> (1 - e.runMs / 1e3 / (traced.wall * cores)),
        "spark.task_skew" -> e.taskSkew,
        "pins.rdd_blocks" -> tracer.pinBlocks.toDouble,
        "pins.bytes" -> tracer.pinBytes.toDouble,
        "trace.wall_s" -> traced.wall) ++
        tracer.plans.result.map { case (k, v) => s"plan.$k" -> v.toDouble }
      Files.writeString(Paths.get(work, "spans.json"), tracer.spans.json)
      val checked = check(traced +: more)
      val out = Json.obj("workload" -> name, "cores" -> cores,
        "passes" -> checked.map(passJson), "per_layer" -> (engine ++ extra))
      spark.stop()
      out
    }

    private def passJson(p: Pass): Json.Raw = Json.Raw(Json.obj(
      "wall_s" -> p.wall, "cpu_s" -> p.cpu, "path_cpu_s" -> p.path,
      "ops" -> p.ops.map(o => Json.Raw(Json.obj("key" -> o.key,
        "call" -> o.call, "latency_s" -> o.latency, "out" -> o.out,
        "error" -> o.error, "check" -> o.check)))))
  }

  /** `map2db`: the seeded fleet, converted map after map. */
  final class MapRun(work: String, seed: Long, cores: Int)
      extends Workload("map2db", work, seed, cores, setups = 3) {
    private val maps = FleetGen.write(s"$work/maps", seed)
    private val warmMap = FleetGen.write(s"$work/warm", seed + 1, Seq(1)).head
    private val order = new Random(seed)

    private var warmed = 0

    /** A whole conversion, both sinks included, of a one-unit map of
      * another seed. */
    def warmUp(): Unit = {
      require(maps.forall(m => new File(m.path).isFile), "fleet maps missing")
      val out = s"$work/warm-out/$warmed"
      warmed += 1
      FdoSink.map2db(spark, warmMap.path, out, Some(s"$out.sqlite"))
    }

    def runPass(tracer: Option[Tracer]): Pass = {
      val dir = nextOut()
      val fleet = order.shuffle(maps)
      timedPass {
        fleet.map { m =>
          val out = s"$dir/${m.name}"
          val t0 = now
          val err = try {
            def convert(): Unit =
              FdoSink.map2db(spark, m.path, out, Some(s"$out.sqlite"))
            tracer match {
              case Some(t) => t.spans(s"op:map2db:${m.name}") {
                t.spans("layer:sources.FdoSink.map2db")(convert())
              }
              case None => convert()
            }
            None
          } catch { case NonFatal(e) => Some(e.toString) }
          tracer.foreach(_.samplePins())
          Op(m.name, 1, secs(t0), out, err)
        }
      }
    }

    def outPerIn(passes: Seq[Pass]): Double = {
      val ops = passes.flatMap(_.ops)
      val out = ops.map { o =>
        bytesUnder(o.out, parquetFile)._1 + bytesUnder(s"${o.out}.sqlite")._1
      }.sum
      val in = ops.map(o => maps.find(_.name == o.key).get.bytes).sum
      out.toDouble / in
    }

    /** Read-backs are small independent jobs: four at a time. */
    override def check(passes: Seq[Pass]): Seq[Pass] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val checked = passes.map(p => p.ops.map { o =>
          pool.submit(new java.util.concurrent.Callable[Op] {
            def call(): Op =
              if (o.error.isDefined) o
              else o.copy(check = MapCheck(spark,
                maps.find(_.name == o.key).get, o.out, s"${o.out}.sqlite"))
          })
        })
        passes.zip(checked).map { case (p, ops) => p.copy(ops = ops.map(_.get)) }
      } finally pool.shutdown()
    }

    /** The stages `FdoSink.map2db` composes, called one by one. */
    def layers(tracer: Tracer, traced: Pass): (Map[String, Double], Seq[Pass]) = {
      session()
      val sp = tracer.spans
      var clipRows = 0L
      var merged = 0L
      var decoded = 0L
      var linemerge = 0.0
      var parquet = (0L, 0L)
      var sqlite = 0L
      val dir = nextOut()
      for (m <- maps) sp(s"op:staged:${m.name}") {
        val out = s"$dir/${m.name}"
        val header = Mapsforge.readHeader(m.path)
        // the scan the pipeline uses: tiles decode once, into a cache
        // that the clip then reads
        val scan = sp("layer:sources.Mapsforge.scan") {
          val c = Mapsforge.scanCached(spark, m.path)
          noop(c.pois.toDF()); noop(c.ways.toDF())
          c
        }
        val clip = Seq(MapPipeline.pointFeatures(scan.pois),
          MapPipeline.lineFeatures(scan.ways), MapPipeline.areaFeatures(scan.ways))
        sp("layer:operators.MapPipeline.clip")(clip.foreach(c => noop(c.toDF())))
        clipRows += clip.map(_.count()).sum
        val tables = sp("layer:operators.MapPipeline.build") {
          MapPipeline.build(spark, m.path)
        }
        merged += Seq(tables.points, tables.lines, tables.areas).map(_.count()).sum
        decoded += tables.decodedTiles()
        val lines = MapPipeline.mergeFeatures(MapPipeline.lineFeatures(scan.ways))
        val t0 = now
        noop(lines)
        val without = secs(t0)
        sp("layer:operators.FeatureMerge.mergeLines") {
          val t1 = now
          noop(FeatureMerge.mergeLines(lines, "m2db_geometry"))
          linemerge += secs(t1) - without
        }
        sp("layer:sources.FdoSink.write") {
          FdoSink.write(spark, tables, header, m.path, out)
        }
        val (pb, pf) = bytesUnder(out, parquetFile)
        parquet = (parquet._1 + pb, parquet._2 + pf)
        sp("layer:sources.FdoSink.writeSqlite") {
          FdoSink.writeSqlite(spark, tables, header, m.path, s"$out.sqlite")
        }
        sqlite += new File(s"$out.sqlite").length
        tables.release()
        scan.release()
      }
      val decode = sp.total("layer:sources.Mapsforge.scan")
      val clipS = sp.total("layer:operators.MapPipeline.clip")
      val build = sp.total("layer:operators.MapPipeline.build")
      // the fleet on every core and on one core, both with a warm JVM
      session()
      val parallel = runPass(None)
      // the per-map floor: a one-unit map converted with a warm JVM,
      // about 1/50 of the fleet's features per map
      val floor = sp("op:floor") {
        val out = s"${nextOut()}/floor"
        val t0 = now
        FdoSink.map2db(spark, warmMap.path, out, Some(s"$out.sqlite"))
        secs(t0)
      }
      session(1)
      val serial = runPass(None)
      (Map("mapsforge.decode_s" -> decode,
        "mapsforge.tiles_decoded" -> decoded.toDouble,
        "mapsforge.decode_once_ratio" ->
          maps.map(_.nonEmptyTiles).sum.toDouble / decoded,
        "mappipeline.clip_s" -> clipS,
        "mappipeline.build_s" -> build,
        "mappipeline.merge_s" -> (build - decode - clipS),
        "mappipeline.fragments_per_feature" -> clipRows.toDouble / merged,
        "featuremerge.linemerge_s" -> linemerge,
        "fdosink.parquet_s" -> sp.total("layer:sources.FdoSink.write"),
        "fdosink.bytes_written" -> parquet._1.toDouble,
        "fdosink.files_written" -> parquet._2.toDouble,
        "sqlitewriter.sqlite_s" -> sp.total("layer:sources.FdoSink.writeSqlite"),
        "sqlitewriter.bytes_written" -> sqlite.toDouble,
        "spark.speedup_1core" -> serial.wall / parallel.wall,
        "map2db.floor_share" -> floor * maps.size / parallel.wall),
        Seq(parallel, serial))
    }
  }

  /** `corpus_prep`: registered query keys over the generated tables,
    * each result written to parquet for the oracle check. */
  final class QueryRun(work: String, data: String, seed: Long, cores: Int)
      extends Workload("corpus_prep", work, seed, cores, setups = 4) {
    private val queries = SparkEntry.queries
    private val units: Seq[Seq[(String, Int)]] =
      (CorpusText ++ CorpusRelational).map(k => Seq(k -> 1)) ++
        CorpusIndex.map(k => Seq(k -> 1, k -> 2))
    private val order = new Random(seed)
    private val oracles = SparkEntry.oracleSql

    Files.writeString(Paths.get(work, "oracle_sql.json"), Json.value(
      units.flatten.map(_._1).distinct.map(k => k -> oracles(k)).toMap))

    def warmUp(): Unit = {
      require(new File(data, "_OK").isFile, s"input tables missing in $data")
      // a key outside the workload: it warms the JIT without compiling
      // or caching anything a timed op uses
      noop(queries("t07_normalize")(spark, data))
    }

    def runPass(tracer: Option[Tracer]): Pass = {
      val dir = nextOut()
      // every pass builds its indexes cold: their paths derive from
      // java.io.tmpdir, read at call time
      val tmp = s"$work/tmp/p$pass"
      new File(tmp).mkdirs()
      System.setProperty("java.io.tmpdir", tmp)
      val ops = order.shuffle(units).flatten
      timedPass {
        ops.map { case (key, call) =>
          val out = s"$dir/${key}_$call"
          val t0 = now
          val err = try {
            def exec(): Unit =
              queries(key)(spark, data).write.mode("overwrite").parquet(out)
            tracer match {
              case Some(t) => t.spans(s"op:$key#$call") {
                t.spans(s"layer:operators.${Module(key)}.$key")(exec())
              }
              case None => exec()
            }
            None
          } catch { case NonFatal(e) => Some(e.toString) }
          tracer.foreach(_.samplePins())
          Op(key, call, secs(t0), out, err)
        }
      }
    }

    def outPerIn(passes: Seq[Pass]): Double = {
      val in = bytesUnder(data, parquetFile)._1 * passes.size
      passes.flatMap(_.ops).map(o => bytesUnder(o.out, parquetFile)._1).sum
        .toDouble / in
    }

    def layers(tracer: Tracer, traced: Pass): (Map[String, Double], Seq[Pass]) = {
      def lat(key: String, call: Int): Double =
        traced.ops.filter(o => o.key == key && o.call == call).map(_.latency).sum
      val keys = traced.ops.map(_.key).distinct
      val plain = keys.filterNot(CorpusIndex.contains)
        .map(k => s"op.${k}_s" -> lat(k, 1))
      val index = keys.filter(CorpusIndex.contains).flatMap { k =>
        Seq(s"similarity.build_s.$k" -> (lat(k, 1) - lat(k, 2)),
          s"similarity.search_s.$k" -> lat(k, 2))
      }
      // the traced pass's indexes: java.io.tmpdir still points at them
      val committed = graft.sources.AtomicCommit
        .committedFiles(spark, Similarity.navIndexPath(data))
        .map(f => new File(new java.net.URI(f).getPath).length).sum
      ((plain ++ index).toMap +
        ("similarity.index_bytes" -> committed.toDouble), Nil)
    }
  }

  /** Compares one converted map with what the generator put in it: the
    * feature ids of each table, each point's `brand` and merged minimum
    * zoom, each line's length and each area's area, read back from both
    * the parquet tables and the SQLite file. Returns the first mismatch. */
  object MapCheck {
    def apply(spark: SparkSession, m: FleetGen.MapFile, out: String,
        db: String): Option[String] =
      try {
        val sources: Seq[(String, String => DataFrame)] = Seq(
          "parquet" -> (t => spark.read.parquet(s"$out/$t")),
          "sqlite" -> (t => FdoSink.readSqliteTable(spark, db, t)))
        sources.iterator.flatMap { case (src, read) =>
          def rows(t: String, cols: String*): Array[Row] =
            read(t).select(cols.map(col): _*).collect()
          def num(v: Any): Long = v.asInstanceOf[Number].longValue
          def geom(v: Any) = GeomOps.fromWkb(v.asInstanceOf[Array[Byte]])
          val points = rows("points", "m2db_pnum", "brand", "m2db_minz")
            .map(r => num(r.get(0)) -> (r.getString(1), num(r.get(2)).toInt))
          val lines = rows("lines", "m2db_lnum", "m2db_geometry")
            .map(r => num(r.get(0)) -> geom(r.get(1)).getLength)
          val areas = rows("areas", "m2db_anum", "m2db_geometry")
            .map(r => num(r.get(0)) -> geom(r.get(1)).getArea)
          def same[G, W](table: String, got: Array[(Long, G)],
              want: Map[Long, W], eq: (G, W) => Boolean): Option[String] = {
            val g = got.toMap
            if (got.length != want.size || g.size != got.length)
              Some(s"$src $table: ${got.length} rows, want ${want.size}")
            else want.collectFirst {
              case (id, w) if !g.get(id).exists(eq(_, w)) =>
                s"$src $table: id $id has ${g.get(id)}, want $w"
            }
          }
          same("points", points, m.expect.points,
            (a: (String, Int), b: (String, Int)) => a == b) orElse
            same("lines", lines, m.expect.lines,
              (a: Double, b: FleetGen.Measure) => b.admits(a)) orElse
            same("areas", areas, m.expect.areas,
              (a: Double, b: FleetGen.Measure) => b.admits(a))
        }.nextOption()
      } catch { case NonFatal(e) => Some(s"read-back failed: $e") }
  }
}
