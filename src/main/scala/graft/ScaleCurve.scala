package graft

/** Machine-recorded scale sweep (round-4 verdict #3).
  *
  * SURVEY §4's 100× drill existed only as prose; this main re-measures
  * a representative query per §2 family at sf1 (10×) and sf10 (100×)
  * and writes the whole curve — plus the pathological-skew join drill
  * — to `scale_curve.json`, a committed artifact, so the "every family
  * linear-or-better" claim is reproducible instead of asserted.
  *
  * Run: `sbt "runMain graft.ScaleCurve"` (or `... graft.ScaleCurve
  * skew` for the skew drill alone). Deliberately separate from
  * [[Bench]]: the driver's bench has a bounded stdout budget and
  * per-round wall-clock; this sweep is unbounded and manual.
  */
object ScaleCurve {
  import Bench.{fmt, timedNoop}

  /** family → representative query (one per SURVEY §2 family, plus a
    * second §2d entry so both the clustering and the text-kernel legs
    * of the pipeline tranche are on the curve).
    */
  val families: Seq[(String, String)] = Seq(
    "2a_relational" -> "q01_pricing_summary",
    "2a_recursive" -> "q58_recursive_chain",
    "2b_mapsforge" -> "g13_map_pipeline",
    "2c_geometry" -> "g11_polyline_length",
    "2d_pipeline_cluster" -> "d14_clusters_scale",
    "2d_pipeline_text" -> "t07_normalize",
    "2d_pipeline_shard" -> "d23_token_shards",
    "2d_pipeline_retrieval" -> "t14_postings",
    "2d_pipeline_graph" -> "d32_pagerank",
    "2d_pipeline_bpe" -> "t23_bpe_encode",
    // the kNN family's curve entries: the occupancy-scaled banding
    // (the big-N production knob; d49's fixed 8-bit banding is
    // honest-quadratic in candidates, ~685 s at sf10, scaladoc'd)
    // and the r9 multi-probe lever past it
    "2d_pipeline_knn" -> "d55_knn_graph_wide",
    "2d_pipeline_knn_mp" -> "d59_knn_multiprobe",
    "2c_spatial" -> "g18_point_in_polygon",
    "2d_pipeline_incremental" -> "d54_incremental_dedup",
    "2e_streaming" -> "s01_window_agg",
    // round-11 additions: the shuffle-free bucketed layout join,
    // doc-spanning sequence packing, and the bloom-pruned selective
    // join. d76 (exact set-sim join) is deliberately NOT a curve
    // family — the d49 precedent: on this corpus the shingle
    // vocabulary SATURATES (~220k distinct shingles at any n up to
    // 9), so per-shingle document frequency grows linearly with the
    // corpus and the exact τ=0.7 pair OUTPUT is itself Θ(N²)
    // (measured: 69M co-occurring pairs / 330k qualifying pairs at
    // sf1 → OOM-scale at sf10); no exact algorithm beats its own
    // output size. The operator's scale envelope is output-bounded —
    // the right tool at this duplication density is d02→d20
    // (LSH candidates → cluster keepers); d76 is the exact tool for
    // realistic sparse corpora, gate-verified at the oracle scales.
    "2a_storage_bucketed" -> "f11_bucketed_join",
    "2d_pipeline_pack" -> "d78_sequence_pack",
    "2a_bloom_prune" -> "q84_bloom_prune",
    // r12: persisted-index SEARCH (the read paths; their one-time
    // builds are timed separately in artifact_builds, like f11's
    // layout)
    "2d_pipeline_ann_idx" -> "d79_persisted_ivf",
    "2d_pipeline_pq_idx" -> "d80_persisted_pq",
    // r13: the graph-navigable serving leg — read path over the
    // committed nav index (its one-time build is an artifact column)
    "2d_pipeline_nav_idx" -> "d84_graph_search",
    // r13 (cont.): the 1-bit compression leg — the shortlist scan
    // reads 8 bytes/candidate, so its curve is the purest probe of
    // scan-bound scaling in the ANN family
    "2d_pipeline_binary" -> "d88_binary_rerank")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/localdata/sf1")
    val sf10 = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
      "/root/repo/localdata/sf10")
    val skewOnly = args.contains("skew")
    // `stream` runs ONLY the streaming-throughput points and PATCHES
    // that block in the committed artifact (r12: the full sweep's
    // streaming leg runs last in a JVM that just chewed the sf10
    // column — its sf0.1 point is contention-prone, and the isolated
    // re-measure is the adjudicated number, same protocol as the
    // bench drills)
    val streamOnly = args.contains("stream")
    // `builds` re-measures ONLY the artifact-build columns (plus the
    // d84 read rows, whose committed sf10 cold can be poisoned when
    // the in-sweep build contends) and PATCHES those blocks — the
    // isolated-adjudication protocol applied to the builds phase
    // (r13: one contended sweep committed d84_nav_build 3459 s where
    // the isolated number reads ~an order lower)
    val buildsOnly = args.contains("builds")

    try graft.operators.MapBench.warmFixtures(spark, sf01)
    catch { case _: Throwable => () }
    if (!skewOnly && !streamOnly) {
      // throwaway warm pass at sf0.01: absorbs JIT/codegen/first-touch
      // costs so the sf0.1 column isn't inflated by cold-JVM effects
      // (the r5 first cut read sf0.1 SLOWER than sf1 for the first
      // families measured — pure warm-up order, not scaling)
      val warmDir = sf01.replace("sf0.1", "sf0.01")
      if (new java.io.File(warmDir).isDirectory)
        families.foreach { case (_, key) =>
          try SparkEntry.queries(key)(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
    }

    // one-time durable-artifact builds, timed as their OWN columns
    // (r11 verdict #6: f11's 52.6 s "cold" was build+read conflated):
    // reset deletes the committed artifact so the build is a true
    // cold build; the family rows below then time steady-state reads
    val builds: Seq[(String, Seq[(String, Double)])] =
      if (skewOnly || streamOnly) Nil
      else Seq("sf0.1" -> sf01, "sf1" -> sf1, "sf10" -> sf10)
        .filter { case (_, d) => new java.io.File(d).isDirectory }
        .map { case (tag, d) =>
          def t(reset: => Unit, build: => Unit): Double = {
            reset
            val t0 = System.nanoTime()
            build
            (System.nanoTime() - t0) / 1e9
          }
          val fb = t(
            graft.sources.Interchange.resetBucketedLayout(spark, d),
            graft.sources.Interchange.buildBucketedLayout(spark, d))
          import graft.operators.Similarity.{HnswIndex, IvfBase,
            IvfDelta, IvfIndex, NavBase, NavDelta, NavIndex, NavPromote,
            PqIndex, Purged, Tombstones}
          def cold(as: graft.sources.AtomicCommit.Artifact*): Unit =
            as.foreach(_.reset(spark, d))
          val ib = t(cold(IvfIndex), IvfIndex.ensure(spark, d))
          val pb = t(cold(PqIndex), PqIndex.ensure(spark, d))
          // d81's base-vs-delta pair is the O(delta) claim, measured
          // per sweep (r12 manual numbers: 23.9/1.6 s at sf1,
          // 129.3/4.6 s at sf10)
          val bb = t(cold(IvfBase, IvfDelta), IvfBase.ensure(spark, d))
          val db = t((), IvfDelta.ensure(spark, d))
          val nb = t(cold(NavIndex), NavIndex.ensure(spark, d))
          // d94's base-vs-insert pair is the nav-graph O(delta)
          // claim (d81's contract applied to the serving graph)
          val nbb = t(cold(NavBase, NavDelta), NavBase.ensure(spark, d))
          val nbi = t((), NavDelta.ensure(spark, d))
          // r14: d86's layered graphs moved behind the same committed
          // lifecycle (verdict item 2) — its one-time build is now an
          // artifact column like the others
          val hb = t(cold(HnswIndex), HnswIndex.ensure(spark, d))
          // r15: the lifecycle's new corners — d97's entry promotion
          // (O(postings) election, no retrain, no edge rebuild) and
          // d98's tombstone log + physical purge (O(deletes) log,
          // one O(postings) anti-join merge) — their curves prove
          // the maintenance ops stay FLAT relative to their base
          // builds as the corpus scales
          val pr = t(cold(NavPromote), NavPromote.ensure(spark, d))
          val tp = t(cold(Tombstones, Purged),
            { Tombstones.ensure(spark, d); Purged.ensure(spark, d) })
          println(s"  artifact builds @ $tag: f11 layout ${fmt(fb)} s," +
            s" d79 ivf index ${fmt(ib)} s, d80 pq index ${fmt(pb)} s," +
            s" d81 base ${fmt(bb)} s, d81 delta ${fmt(db)} s," +
            s" d84 nav index ${fmt(nb)} s, d94 nav base ${fmt(nbb)} s," +
            s" d94 nav insert ${fmt(nbi)} s, d86 hnsw ${fmt(hb)} s," +
            s" d97 promote ${fmt(pr)} s, d98 tomb+purge ${fmt(tp)} s")
          tag -> Seq("f11_layout_build" -> fb, "d79_index_build" -> ib,
            "d80_index_build" -> pb, "d81_base_build" -> bb,
            "d81_delta_update" -> db, "d84_nav_build" -> nb,
            "d94_navbase_build" -> nbb, "d94_nav_insert" -> nbi,
            "d86_hnsw_build" -> hb, "d97_promote" -> pr,
            "d98_tomb_purge" -> tp)
        }

    def time(key: String, dir: String): Double =
      timedNoop(spark, SparkEntry.queries(key), dir)

    // At sf10 the replica is GBs and the first execution pays the
    // page-cache miss: round 5 recorded 72 s for g11 where an earlier
    // warm measurement read 23 s — same plan, different cache state.
    // Recording BOTH runs as separate columns (cold = first touch,
    // warm = back-to-back repeat) makes the artifact adjudicate that
    // ambiguity itself: plan-scaling claims read the warm column, I/O
    // claims read the cold one. The sf0.1/sf1 points are MIN-of-2:
    // round 7's first pass recorded q01 at 13.1 s (sf1) vs 9.0 s
    // (sf10) — host contention on single executions, not scaling.
    def sweep(dir: String, coldWarm: Boolean)
        : Seq[(String, String, Double, Option[Double])] =
      if (!new java.io.File(dir).isDirectory) Nil
      else families.map { case (fam, key) =>
        val first = try time(key, dir) catch { case _: Throwable => -1.0 }
        val second =
          if (first < 0) None
          else Some(try time(key, dir) catch { case _: Throwable => -1.0 })
        val (rec, warm) =
          if (coldWarm) (first, second)
          else ((first +: second.filter(_ >= 0).toSeq).min, None)
        println(s"  $fam/$key @ ${dir.split('/').last}: ${fmt(rec)} s" +
          warm.map(w => s" cold, ${fmt(w)} s warm")
            .getOrElse(if (coldWarm) "" else " (min of 2)"))
        (fam, key, rec, warm)
      }

    // buildsOnly re-times just the nav read rows (min-of-2 / cold+
    // warm, the sweep's own semantics) for the patch
    val navRetime: Seq[(String, Either[Double, (Double, Double)])] =
      if (!buildsOnly) Nil
      else Seq("sf0.1" -> sf01, "sf1" -> sf1, "sf10" -> sf10)
        .filter { case (_, d) => new java.io.File(d).isDirectory }
        .map { case (tag, d) =>
          val first = time("d84_graph_search", d)
          val second = time("d84_graph_search", d)
          val v: Either[Double, (Double, Double)] =
            if (tag == "sf10") Right((first, second))
            else Left(math.min(first, second))
          println(s"  d84_graph_search @ $tag: ${fmt(first)} s / ${
            fmt(second)} s")
          tag -> v
        }

    val curve: Seq[(String, Seq[(String, String, Double, Option[Double])])] =
      if (skewOnly || streamOnly || buildsOnly) Nil
      else {
        println("sf0.1 sweep:")
        val c01 = sweep(sf01, coldWarm = false)
        println("sf1 sweep:")
        val c1 = sweep(sf1, coldWarm = false)
        println("sf10 sweep (cold + warm):")
        val c10 = sweep(sf10, coldWarm = true)
        Seq("sf0.1" -> c01, "sf1" -> c1, "sf10" -> c10)
      }

    // STREAMING throughput column (round-9 verdict item 7): the real
    // streaming leg of s01 (file source → watermarked window agg →
    // noop sink, drained as per-file micro-batches under AvailableNow)
    // at each scale's event volume — rows/s plus the per-batch
    // latency spread, the numbers §2e's correctness pins don't carry
    val streamPts: Seq[(String, graft.streaming.StreamBench.Throughput)] =
      if (skewOnly || buildsOnly) Nil
      else Seq("sf0.1" -> sf01, "sf1" -> sf1, "sf10" -> sf10)
        .filter { case (_, d) => new java.io.File(d).isDirectory }
        .flatMap { case (tag, d) =>
          try {
            val t = graft.streaming.StreamBench.s01Throughput(spark, d)
            println(s"  streaming s01 @ $tag: ${t.rows} rows in ${
              fmt(t.wallSec)} s = ${fmt(t.rowsPerSec / 1000)}k rows/s, " +
              s"avg batch ${fmt(t.avgBatchMs)} ms, max ${t.maxBatchMs} ms")
            Seq(tag -> t)
          } catch { case e: Throwable =>
            println(s"  streaming s01 @ $tag failed: ${e.getMessage}")
            Nil
          }
        }

    // the committed artifact drills skew at sf10 when the replica is
    // there: the hot key then holds ~18M rows and the straggler
    // dwarfs job overhead (at sf1 the two are comparable and the
    // strategy ordering drowns in noise — Bench keeps sf1 for budget)
    // SPARK_GRAFT_SKEW_DIR overrides for isolated adjudication runs
    // (e.g. re-measuring the sf1 drill the Bench budget keeps)
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR",
      if (new java.io.File(sf10).isDirectory) sf10 else sf1)
    println(s"skew drill (${skewDir.split('/').last}):")
    val skew =
      if (streamOnly || buildsOnly) Nil
      else try graft.operators.SkewBench.drill(spark, skewDir)
      catch { case e: Throwable =>
        println("  skew drill failed: " + e.getMessage); Nil }
    skew.foreach { case (k, v) => println(s"  $k: ${fmt(v)} s") }

    val curveJson = curve.map { case (tag, rows) =>
      "\"" + tag + "\":{" + rows.map {
        case (_, key, t, None) => s""""$key":${fmt(t)}"""
        case (_, key, c, Some(w)) =>
          s""""$key":{"cold":${fmt(c)},"warm":${fmt(w)}}"""
      }.mkString(",") + "}"
    }.mkString(",")
    val famJson = families.map { case (fam, key) =>
      s""""$fam":"$key"""" }.mkString("{", ",", "}")
    val skewJson = skew.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val curvePart = if (curveJson.isEmpty) "" else curveJson + ","
    val buildsPart =
      if (builds.isEmpty) ""
      else builds.map { case (tag, bs) =>
        "\"" + tag + "\":{" + bs.map { case (k, v) =>
          s""""$k":${fmt(v)}""" }.mkString(",") + "}"
      }.mkString("\"artifact_builds\":{", ",", "},")
    val streamJson = streamPts.map { case (tag, t) =>
      s""""$tag":{"rows":${t.rows},"rows_per_s":${fmt(t.rowsPerSec)
        },"batches":${t.batchMs.size},"avg_batch_ms":${fmt(t.avgBatchMs)
        },"max_batch_ms":${t.maxBatchMs}}"""
    }.mkString("{", ",", "}")
    val streamPart =
      if (streamPts.isEmpty) ""
      else s""""2e_streaming_throughput":$streamJson,"""
    val skewTag = "skew_" + skewDir.split('/').last
    val json = s"""{"families":$famJson,$curvePart$buildsPart$streamPart"$skewTag":$skewJson,"execution":"full-plan noop, local[${
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"}"""
    if (buildsOnly && builds.nonEmpty) {
      // parse-and-rewrite (json4s ships with Spark): replace the
      // artifact_builds block and the re-timed d84 read rows, leave
      // everything else untouched, write via temp + atomic rename
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get("scale_curve.json")
      val cur = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
      val buildsJ: JValue = JObject(builds.map { case (tag, bs) =>
        tag -> JObject(bs.map { case (k, v) =>
          k -> (JDecimal(BigDecimal(fmt(v))): JValue) }.toList)
      }.toList)
      val navJ = navRetime.toMap
      // merge per scale tag (ADVICE r13): a builds run that skipped a
      // scale directory (e.g. sf10 replica absent) must not silently
      // drop that tag's previously committed numbers
      val measuredTags = builds.map(_._1).toSet
      val patched = cur.mapField {
        case ("artifact_builds", JObject(old)) =>
          ("artifact_builds", JObject(
            old.filterNot { case (t, _) => measuredTags.contains(t) } ++
              buildsJ.asInstanceOf[JObject].obj))
        case ("artifact_builds", _) => ("artifact_builds", buildsJ)
        case (tag, JObject(fields)) if navJ.contains(tag) =>
          (tag, JObject(fields.map {
            case ("d84_graph_search", _) =>
              ("d84_graph_search", navJ(tag) match {
                case Left(v) => JDecimal(BigDecimal(fmt(v))): JValue
                case Right((c, w)) => JObject(List(
                  "cold" -> (JDecimal(BigDecimal(fmt(c))): JValue),
                  "warm" -> (JDecimal(BigDecimal(fmt(w))): JValue)))
              })
            case other => other
          }))
        case other => other
      }
      val tmp = java.nio.file.Paths.get(
        "scale_curve.json.tmp-" + ProcessHandle.current().pid())
      java.nio.file.Files.write(tmp,
        (JsonMethods.compact(JsonMethods.render(patched)) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println("patched artifact_builds + d84 rows in scale_curve.json")
    }
    else if (!skewOnly && !streamOnly)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("scale_curve.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else if (streamOnly && streamPts.nonEmpty) {
      // patch ONLY the streaming block of the committed artifact
      val p = java.nio.file.Paths.get("scale_curve.json")
      if (java.nio.file.Files.exists(p)) {
        val cur = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val key = "\"2e_streaming_throughput\":"
        val i = cur.indexOf(key)
        if (i >= 0) {
          // scan the balanced value object after the key — string-
          // aware (ADVICE r12): a '{'/'}' inside a JSON string value
          // (e.g. a tag or the execution field) must not move the
          // brace depth, and escaped quotes must not end the string
          var j = i + key.length
          var depth = 0
          var end = -1
          var inStr = false
          var esc = false
          while (end < 0 && j < cur.length) {
            val c = cur(j)
            if (inStr) {
              if (esc) esc = false
              else if (c == '\\') esc = true
              else if (c == '"') inStr = false
            } else c match {
              case '"' => inStr = true
              case '{' => depth += 1
              case '}' => depth -= 1; if (depth == 0) end = j
              case _ =>
            }
            j += 1
          }
          if (end > 0) {
            val patched = cur.substring(0, i + key.length) +
              streamJson + cur.substring(end + 1)
            // write-to-temp + atomic rename: a crash mid-write must
            // not corrupt the committed artifact (ADVICE r12)
            val tmp = java.nio.file.Paths.get(
              "scale_curve.json.tmp-" + ProcessHandle.current().pid())
            java.nio.file.Files.write(tmp, patched.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            java.nio.file.Files.move(tmp, p,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            println("patched 2e_streaming_throughput in scale_curve.json")
          }
        }
      }
    }
    println(json)
    spark.stop()
  }
}
