package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Format seconds with 2-decimal grain, trailing zeros stripped —
    * every stdout byte counts toward the driver's bounded tail
    * capture.
    */
  private[graft] def fmt(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    if (s.contains('.'))
      s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    else s
  }

  private def jsonMap(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  /** Seconds to run `fn`'s complete plan into the noop sink, the one
    * timed rep every harness main takes. Every pin and memo is freed
    * first, so each rep pays its OWN pipeline (d02 memoizes the LSH
    * pipeline d07 would otherwise read, turning d07's number into
    * clustering-only), and the heap is collected so the rep does not
    * inherit earlier garbage as GC pressure. The noop sink executes
    * the whole plan: count() would let Catalyst drop sorts and
    * projections and read no columns at all for pure selects. */
  def timedNoop(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String): Double = {
    Pins.release()
    System.gc()
    Thread.sleep(50)
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Warm the JVM/codegen paths once so the first timed query doesn't
    // absorb startup cost; not part of any measurement. Fixture maps
    // pre-encode here too: g13/g14 measure the distributed pipeline,
    // and their input .map is setup (the reference reads a
    // pre-existing file), not workload.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try graft.operators.MapBench.warmFixtures(spark, sfDir)
    catch { case _: Throwable => () }
    // Optional comma-separated key filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=d07_dedup_clusters,d02_minhash_lsh
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    /** MEASUREMENT RULE (round-9 verdict #1). Suite-mode numbers were
      * contention-dominated twice: round 4 (q05 10.7 s in-suite vs
      * 1.71 s isolated — fixed by min-of-2) and round 9 (g13 16.86 s
      * in-suite vs 4.16 s judge-isolated — BOTH reps landed in a
      * GC/compaction storm seeded by 200+ prior queries, so min-of-2
      * alone can't save a query whose whole window is polluted). Two
      * defenses now apply:
      *   1. QUIESCE before every timed rep ([[timedNoop]]): the rep
      *      starts on a collected heap.
      *   2. VARIANCE SENTINEL: if the reps of one query disagree by
      *      more than 2x (and the fast rep isn't sub-200ms noise), the
      *      measurement is suspect — take ONE extra quiesced rep and
      *      keep the overall min. Which reps were seen and which was
      *      kept is recorded in bench_out.json's "variance" map, so a
      *      tripped sentinel is visible, never silent.
      * Reported value: MIN across reps. A query records -1 (NOT its
      * elapsed-until-throw time, so a broken query can't masquerade as
      * a fast one) plus an errors entry only when EVERY rep failed; a
      * flaky second rep keeps rep 1's valid measurement with the error
      * noted alongside.
      */
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String, reps: Int)
        : (String, Double, Option[String], Option[String]) = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      def rep(): Unit =
        try times += timedNoop(spark, fn, dir)
        catch { case e: Throwable =>
          err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200))
        }
      (0 until reps).foreach(_ => rep())
      val tripped = times.size >= 2 && times.min > 0.2 &&
        times.max / times.min > 2.0
      // r15 (verdict item 9): one extra rep is not enough when the
      // whole window is polluted (r14's g13: 14.65 committed vs 5.06
      // isolated — every rep landed contended). Re-rep until the MIN
      // is REPRODUCED — the two fastest reps agree within 30% — so a
      // kept number is never a single unconfirmed fast outlier nor a
      // string of contended ones, bounded at 3 extra reps so one
      // noisy query can't stall the suite.
      def minStable: Boolean = {
        val sorted = times.sorted
        sorted.size >= 2 && sorted(1) / sorted(0) <= 1.3
      }
      if (tripped) {
        var extra = 0
        do { rep(); extra += 1 }
        while (extra < 3 && times.nonEmpty && !minStable)
      }
      val varNote =
        if (!tripped) None
        else Some(times.map(fmt).mkString("reps=[", ",", s"] kept=${
          fmt(times.min)}"))
      (name, if (times.isEmpty) -1.0 else times.min, err, varNote)
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      timeOne(name, fn, sfDir, reps = 2)
    }
    val qs = jsonMap(results.map { case (k, v, _, _) => (k, fmt(v)) })
    val errs = jsonMap(results.collect { case (k, _, Some(m), _) =>
      (k, "\"" + m + "\"") })
    val ok = results.filter(_._3.isEmpty)
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0

    // Scale drills: run a bounded headline subset on the 10×/100×
    // replicas (localdata/sf1, localdata/sf10) so every bench report
    // carries a scale CURVE (sf0.1 → sf1 → sf10) without unbounded
    // wall-clock cost. The replicas are SELF-HEALING: localdata is
    // scratch and was wiped before round 6 (that round's report lost
    // its scale sections) — when the marker is absent and the bench
    // runs on the canonical sf0.1 source, ScaleGen rebuilds them
    // in-engine before drilling. The sf10 list holds only
    // plant-semantics-safe queries (doc_id offsets stay below the 1e6
    // plant boundary, but the minhash corpus at 100x would dominate
    // the run). Min-of-2 like the suite (round-5 verdict: single-rep
    // drills produced phantom 3× swings — rep 1 absorbs cold
    // page-cache reads of the 2.3 GB sf10 replica, rep 2 measures the
    // plan).
    def drill(dir: String, factor: Int, keys: Seq[String])
        : Seq[(String, Double, Option[String], Option[String])] =
      if (only.isDefined || !ensureReplica(dir, factor)) Nil
      else keys.flatMap(k => SparkEntry.queries.get(k).map(fn => (k, fn)))
        .map { case (name, fn) => timeOne(name, fn, dir, reps = 2) }

    // replica factors are relative to sf0.1 — only auto-build when the
    // bench points at it; any other source falls back to "use the
    // replica if a complete one is already there"
    def ensureReplica(dir: String, factor: Int): Boolean =
      ScaleGen.ready(dir) || (sfDir.stripSuffix("/").endsWith("sf0.1") &&
        (try ScaleGen.ensure(spark, sfDir, dir, factor)
        catch { case e: Throwable =>
          System.err.println(s"[bench] replica $dir: ${e.getMessage}")
          false
        }))

    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/localdata/sf1")
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
      "/root/repo/localdata/sf10")
    // kept to the queries whose scale behavior is informative
    // (LSH pipelines, the fixed t11, the near-linear g11, one agg
    // + one stream baseline). r17 (VERDICT r16 item 3) ADDS the
    // exact-percentile family: the buffered `percentile` forms
    // (q16/q63/q88) against the value-histogram forms (q71/q74) —
    // sf0.1 sits at the scheduling floor where the two shapes tie,
    // so the drill carries the scale signal that decides which form
    // the 100 TB path keeps (guide §5: per-group value buffering is
    // the spill risk the histogram form removes).
    val sf1 = drill(sf1Dir, 10, Seq("q01_pricing_summary",
      "d02_minhash_lsh", "t11_boiler_strip", "d21_pipeline_e2e",
      "g13_map_pipeline", "g11_polyline_length", "d23_token_shards",
      "q16_percentiles", "q63_robust_stats", "q71_median_histogram",
      "q74_percentiles_scale", "q88_winsorize"))
    // g11 (23 s at sf10, near-linear window sort — measured once,
    // recorded in SURVEY §4) stays out so the whole bench keeps
    // fitting the driver's per-round budget
    val sf10 = drill(sf10Dir, 100,
      Seq("q01_pricing_summary", "d14_clusters_scale", "d23_token_shards"))
    // Pathological-skew drill (SURVEY §4): one zipf-hot key holding
    // ~30% of an sf1-sized fact vs a non-broadcastable dim — plain
    // shuffle join vs salted (key,salt) scatter vs AQE runtime split.
    val skew: Seq[(String, Double)] =
      if (!ScaleGen.ready(sf1Dir) || only.isDefined) Nil
      else try graft.operators.SkewBench.drill(spark, sf1Dir)
      catch { case _: Throwable => Nil }

    def drillJson(tag: String,
        ran: Seq[(String, Double, Option[String], Option[String])])
        : String =
      if (ran.isEmpty) ""
      else s""","$tag":${jsonMap(ran.map { case (k, v, _, _) => (k, fmt(v)) })}"""

    val skewJson =
      if (skew.isEmpty) ""
      else s""","skew_sf1":${jsonMap(skew.map { case (k, v) => (k, fmt(v)) })}"""

    // STDOUT CONTRACT (round-4 verdict #1): the driver's tail capture
    // is ~2 KB; a 112-entry per-query map alone exceeds it, so three
    // rounds of BENCH_r{N}.json arrived unparseable. stdout carries
    // only total + errors + a headline-query subset + the drill
    // sections (< 1 KB); the FULL per-query map goes exclusively to
    // bench_out.json.
    val headlineKeys = Seq("q01_pricing_summary", "q05_topk_revenue",
      "d02_minhash_lsh", "d20_dedup_corpus", "d21_pipeline_e2e",
      "g13_map_pipeline", "t11_boiler_strip", "s01_window_agg",
      "t41_crawl_e2e")
    val headline = results.filter(r => headlineKeys.contains(r._1))
    val sfTag = sfDir.split('/').lastOption.getOrElse(sfDir)
    val errPart = if (results.forall(_._3.isEmpty)) "" else s""","errors":$errs"""
    // stdout carries only the sentinel COUNT (the per-query variance
    // detail lives in bench_out.json where the byte budget is moot)
    val varCount = (results ++ sf1 ++ sf10).count(_._4.isDefined)
    val stdoutJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${
        jsonMap(headline.map { case (k, v, _, _) => (k, fmt(v)) })
      },"n":${results.size},"reps":2,"var_tripped":$varCount$errPart,"sf":"$sfTag"${
        drillJson("sf1", sf1)}${drillJson("sf10", sf10)}$skewJson,"detail":"bench_out.json"}"""
    println(stdoutJson)
    // full per-query copy: the bounded stdout capture can't carry the
    // whole map, so the file is the canonical per-query record — it
    // also carries the drill ERROR maps (a failed drill query in
    // stdout is just -1; the message lives here, where the byte
    // budget doesn't apply)
    def drillErrJson(tag: String,
        ran: Seq[(String, Double, Option[String], Option[String])])
        : String = {
      val es = ran.collect { case (k, _, Some(m), _) => (k, "\"" + m + "\"") }
      if (es.isEmpty) "" else s""","${tag}_errors":${jsonMap(es)}"""
    }
    val varJson = {
      val vs = (results.map(("", _)) ++ sf1.map(("sf1:", _)) ++
        sf10.map(("sf10:", _))).collect {
          case (tag, (k, _, _, Some(note))) => (tag + k, "\"" + note + "\"")
        }
      if (vs.isEmpty) "" else s""","variance":${jsonMap(vs)}"""
    }
    val fileJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n":${
        results.size},"reps":2$errPart$varJson,"sf":"$sfTag"${
        drillJson("sf1", sf1)}${drillErrJson("sf1", sf1)}${
        drillJson("sf10", sf10)}${drillErrJson("sf10", sf10)}$skewJson,"sf_dir":"$sfDir","execution":"full-plan noop, gc-quiesced min of 2 reps + >2x variance sentinel (re-rep to stable min, max 3 extra)"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_out.json")),
      (fileJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // leave /tmp no larger than we found it: drop the encoded fixture
    // maps (the per-invocation FDO output dirs already self-clean
    // inside g13MapPipeline)
    graft.operators.MapBench.releaseFixtures()
    spark.stop()
  }
}
