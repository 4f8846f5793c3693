package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the round-2 operators: these assert the
  * SHAPE that makes each query scale (single Expand pass, partial
  * aggregation, pruned scans, bounded exchange counts), so an
  * optimizer-hostile refactor fails locally instead of on a cluster.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).length

  test("cube/grouping-sets/multi-distinct run as ONE Expand pass") {
    Seq("q22_cube", "q33_grouping_sets", "q41_multi_distinct")
      .foreach { q =>
        val p = plan(q)
        assert(count(p, "Expand") == 1, s"$q:\n$p")
        assert(count(p, "Scan parquet|FileScan") == 1, s"$q scans")
      }
  }

  test("unpivot expands AFTER aggregation (tiny relation)") {
    val p = plan("q37_unpivot")
    // Expand (the melt) must sit above the final HashAggregate, i.e.
    // appear before it in the top-down plan string
    val expand = p.indexOf("Expand")
    val agg = p.lastIndexOf("HashAggregate")
    assert(expand >= 0 && agg >= 0 && expand < agg, p)
  }

  test("aggregates partial-combine before their shuffle") {
    Seq("g10_bbox_agg", "q30_exact_stats", "q34_bitwise_agg")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("partial_"), s"$q has no partial agg:\n$p")
      }
  }

  test("window queries sort once per window spec") {
    Seq("q40_range_frame", "q24_window_frames").foreach { q =>
      val p = plan(q)
      assert(count(p, "Window") == 1, s"$q:\n$p")
    }
  }

  test("t09 joins the head vocabulary by broadcast, t08 never shuffles") {
    val t09 = plan("t09_common_ratio")
    assert(t09.contains("BroadcastHashJoin"), t09)
    assert(!t09.contains("SortMergeJoin"), t09)
    // t08 is a pure per-row rewrite: no exchange anywhere above the
    // scan except the output ordering
    val t08 = plan("t08_pii_scrub")
    assert(count(t08, "Exchange") <= 1, t08) // the orderBy range part
    assert(!t08.contains("ShuffledHashJoin")
      && !t08.contains("SortMergeJoin"), t08)
  }

  test("d17 candidates meet only in band buckets (equi-join)") {
    val p = plan("d17_ingest_neardup")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d16 flags boilerplate by equi-join (no cartesian products)") {
    val p = plan("d16_boilerplate")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p) // gram doc-counts map-side combine
    // vocabulary-sized common grams must build shuffled, not broadcast
    assert(!p.contains("BroadcastHashJoin"), s"d16 broadcast:\n$p")
  }

  test("pipeline scans prune to the referenced columns") {
    val p = plan("m03_chunk_hash")
    val schemas = "ReadSchema: [^\\n]+".r.findAllIn(p).toList
    assert(schemas.nonEmpty)
    schemas.foreach { s =>
      assert(!s.contains("source") && !s.contains("n_chars"),
        s"m03 reads unused columns: $s")
    }
  }

  test("t05 ranks bigrams with the bounded heap, not a lang window") {
    val p = plan("t05_bigram_freq")
    // row_number over partitionBy(lang) funnels the whole (lang,
    // bigram, n) relation through a handful of sort partitions — the
    // round-2 scale-killer. The TopK aggregator must appear instead,
    // and it must partial-combine before the lang shuffle.
    assert(count(p, "Window") == 0, s"t05 regressed to a window:\n$p")
    assert(p.contains("partial_"), s"t05 top-k has no partial agg:\n$p")
  }

  test("t01-t03 use the WordStats kernel, not interpreted HOF folds") {
    Seq("t01_lang_id", "t02_quality_score", "t03_token_count")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("aggregate(") && !p.contains("lambdafunction"),
          s"$q still folds with an interpreted HOF:\n$p")
        assert(p.contains("wordstats("), s"$q lost the kernel:\n$p")
      }
  }

  test("d09 stratified-sample filter reaches the scan") {
    val p = plan("d09_stratified_sample")
    // membership is a pure row predicate — it must evaluate in the
    // scan stage (no shuffle at all except the output sort)
    assert(count(p, "Exchange") <= 1, p)
  }

  test("s05 enrich joins the dimension by broadcast and partial-aggregates") {
    val p = plan("s05_stream_enrich")
    // the stream side must NOT shuffle for the join: the dimension
    // broadcasts (the 100 TB enrichment shape), and the windowed agg
    // map-side combines before its exchange
    assert(p.contains("BroadcastHashJoin"), s"s05 dim not broadcast:\n$p")
    assert(p.contains("partial_"), s"s05 agg has no partial combine:\n$p")
  }

  test("d12 candidate generation is an equi-join on banded signatures") {
    val p = plan("d12_embed_neardup_lsh")
    // the scale path must never degrade to an all-pairs loop: the
    // candidate join is hash-partitioned on (t, bucket)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"d12 went quadratic:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"d12 lost its equi-join:\n$p")
  }

  test("LSH pipelines never broadcast STATLESS corpus-scaling builds") {
    // cell lists, candidate pairs and bucket self-joins scale with
    // the data and are aggregate-derived (no stats): those builds
    // must be shuffled — a broadcast there passes sf0.01 and OOMs a
    // cluster. Parquet-backed sides (the shingle re-attach) may
    // legitimately broadcast at test scale: stats steer them to a
    // shuffle at real scale on their own.
    Seq("d02_minhash_lsh", "d12_embed_neardup_lsh", "d20_dedup_corpus")
      .foreach { q =>
        val n = AuditBroadcast.aggFedBroadcasts(plan(q))
        assert(n == 0, s"$q has $n aggregate-fed broadcast(s)")
      }
  }

  test("aggFedBroadcasts heuristic flags a planted statless broadcast") {
    // positive control (round-4 advice): the gate below is only as
    // good as the plan-string heuristic — if a Spark upgrade changes
    // the tree format, this synthetic plan keeps the sweep honest by
    // failing loudly instead of letting the gate go vacuous.
    val statless =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, false
        |   :- Project [k#1L, v#3L]
        |   :  +- FileScan parquet [k#1L,v#3L]
        |   +- BroadcastExchange HashedRelationBroadcastMode(List(k#2L))
        |      +- HashAggregate(keys=[k#2L], functions=[sum(v#4L)])
        |         +- Exchange hashpartitioning(k#2L, 32)
        |            +- HashAggregate(keys=[k#2L], functions=[partial_sum(v#4L)])
        |               +- FileScan parquet [k#2L,v#4L]""".stripMargin
    assert(AuditBroadcast.aggFedBroadcasts(statless) == 1,
      "heuristic failed to flag an aggregate-fed BroadcastExchange")
    // ...and a stats-backed (scan-fed) broadcast must NOT flag
    val statted =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, false
        |   :- HashAggregate(keys=[k#1L], functions=[sum(v#3L)])
        |   :  +- FileScan parquet [k#1L,v#3L]
        |   +- BroadcastExchange HashedRelationBroadcastMode(List(k#2L))
        |      +- Filter isnotnull(k#2L)
        |         +- FileScan parquet [k#2L]""".stripMargin
    assert(AuditBroadcast.aggFedBroadcasts(statted) == 0,
      "heuristic flags a scan-fed broadcast (false positive)")
  }

  test("NO registered query broadcasts a statless build outside the allowlist") {
    // the t11/d16 bug class, gated globally (round-4 verdict #2): an
    // aggregate-derived relation has no stats, so Catalyst guesses
    // small and broadcasts — fine for provably bounded relations,
    // OOM for corpus-scaling ones. Every query below is adjudicated
    // bounded; a NEW query that flags must either get a shuffled-
    // build hint or a justified allowlist entry.
    val allow = Map(
      "d13_decontaminate" -> "eval-suite grams: bounded by construction",
      "d18_mixture_sample" -> "per-source mixture cuts: |sources| rows",
      "d21_pipeline_e2e" -> "composes d13 eval grams + d18 cuts",
      "g14_fleet_scan" -> "per-file fleet summary: |files| rows",
      "d23_token_shards" -> "per-bin prefix offsets: |shuffle width| rows",
      "m07_blob_shards" -> "per-bin prefix offsets: |shuffle width| rows",
      "m08_shard_manifest" -> "composes m07's per-bin prefix offsets",
      "s09_shards_binned" ->
        "per-(source, bin) prefix offsets: |sources|x|shuffle width| rows",
      "q21_scalar_subquery" -> "per-nation averages: |nation| rows",
      "q38_nullsafe_join" -> "per-nationkey counts: |nation|+1 rows",
      "t09_common_ratio" -> "top-K head vocabulary: K rows",
      "t28_oov_audit" -> "top-K vocabulary: LIMIT VocabK rows",
      "d30_adc_rerank" -> "ADC shortlist: queries x RerankR rows",
      "d47_residual_rerank" ->
        "residual ADC shortlist: queries x RerankR rows (d30's contract)",
      "q63_robust_stats" -> "per-group medians: |l_returnflag| rows",
      "q69_basket_pairs" -> "per-brand order counts: |brand| rows",
      "q71_median_histogram" -> "per-group medians: |l_returnflag| rows",
      "t12_tfidf" -> "corpus-size scalar: 1 row",
      "t13_bm25" ->
        "corpus-stats scalar (1 row) + LIMIT-bounded query terms",
      "d31_sq8" -> "per-dimension quantization stats: dim rows",
      "t15_unigram_lp" -> "corpus token-total scalar: 1 row",
      "t16_bigram_lp" -> "corpus token-total scalar: 1 row",
      "t21_pmi_collocations" -> "corpus token-total scalar: 1 row",
      "d38_source_weights" -> "corpus quality-total scalar: 1 row",
      "d58_quality_calibration" -> "decile-cut scalar row: 1 row",
      "q75_equidepth" ->
        "per-group decile cuts: |l_returnflag| x 9 values",
      "s11_stream_decontam" ->
        "eval-suite grams: bounded by construction (d13's contract)",
      "d74_triangles" ->
        ("two 1-row report scalars (edge/wedge totals), explicit " +
          "broadcast() on count aggregates"),
      "q87_hll_merge" ->
        "per-event-type sketch relations: |event_type| rows",
      // q84's bloom bitset no longer broadcasts: it is collected as a
      // bounded 8 KiB literal (d22 pattern) and probed statelessly.
      "d78_sequence_pack" ->
        ("per-bin packed-token prefix offsets: |bins| rows — the " +
          "d23/s09 bounded-prefix-offset contract, explicit " +
          "broadcast(); bins = ceil(tokens/SeqLen/binTarget), fixed " +
          "by the shuffle-width knob, never corpus-scaling"),
      "t32_source_kl" ->
        ("two bounded stats relations: per-source token totals " +
          "(|sources| rows) and the 1-row corpus total (the t12 " +
          "scalar pattern), both explicit broadcast()"),
      "q88_winsorize" ->
        ("per-group winsor cuts: |l_returnflag| rows, explicit " +
          "broadcast() — the q63 per-group-medians precedent"),
      "d82_persisted_prod" ->
        ("d30/d47's bounded shortlist re-rank (queries x RerankR " +
          "rows) + the bounded per-(query, probed cell) residual " +
          "distance table — both explicit broadcast(), same " +
          "adjudication as d47"),
      "d88_binary_rerank" ->
        ("all explicit broadcast(), all bounded: per-dimension " +
          "threshold stats (dim rows, d31's contract), the packed " +
          "query words (NumQueries rows), and the Hamming shortlist " +
          "(queries x RerankR rows — the d30/d47 bounded-shortlist " +
          "adjudication); the corpus side never broadcasts"),
      "d89_index_provisioning" ->
        ("two literal-bounded relations: the 10-point scale ladder " +
          "plus a 1-row corpus count (the t12 scalar pattern) joined " +
          "against 41 powers of two — ≤11x41 rows total, nothing " +
          "corpus-scaling"),
      "d90_mmr_rerank" ->
        ("the greedy selection loop's broadcasts: the selected set " +
          "(queries x pick rows, grows to queries x TopK) and the " +
          "queries relation — all bounded by the serving knobs and " +
          "local-checkpointed per round, since the selected set " +
          "re-enters the next round's plan; " +
          "the shortlist/pairs relations are queries x R / x R(R-1) " +
          "rows, the d30/d47 bounded-shortlist adjudication"),
      "d91_rank_fusion" ->
        ("d88's bounded signature broadcasts (dim-row stats + " +
          "NumQueries packed words) twice over — once per fused " +
          "retriever; the fusion groupBy runs on 2 x queries x R " +
          "rows, never corpus-scaling"),
      "d95_two_level_route" ->
        ("the two-level descent's bounded broadcasts: the 4-row L2 " +
          "group centroids and |cells|-row cell→group relation " +
          "(both k×dim literals / literal-derived, the d22/d25 " +
          "adjudication), and the queries x NProbe probe relation " +
          "(the d25 probe shape); the corpus side never broadcasts"),
      "d96_persisted_router" ->
        ("d95's descent over the committed tree: the scan-fed 4-row " +
          "l2cents and |cells|-row cellgroups broadcasts (the d79 " +
          "loaded-index shape) plus the bounded probe relation; the " +
          "postings side never broadcasts"),
      "d92_dsir" ->
        ("two literal-bounded relations, both explicit broadcast(): " +
          "the per-bucket log-ratio table (≤ DsirBuckets = 512 rows " +
          "by construction) and the 1-row corpus-totals scalar (the " +
          "t12 pattern); the corpus side never broadcasts"),
      "s22_stream_anomaly" ->
        ("per-event-type robust bounds: |event_type| rows, explicit " +
          "broadcast() — the q63 per-group precedent; the live feed " +
          "side never broadcasts"),
      "q93_file_binpack" ->
        ("the d46 two-level prefix-sum internals, all bounded and " +
          "explicit broadcast(): the 1-row manifest max (the bin " +
          "router) and the 256-row bin offsets/totals; the manifest " +
          "itself joins offsets BY bin after the broadcast"),
      "q94_rfm" ->
        ("three quintile-cut chains, each the q93/d46 bounded set " +
          "(1-row max + 256-row offsets/totals + 1-row cuts, " +
          "explicit broadcast()) plus the 1-row max-date scalar; " +
          "the customer relation never broadcasts"),
      "q95_assoc_rules" ->
        ("per-brand order counts: |brand| rows (q69's adjudication) " +
          "plus the 1-row basket-total scalar, explicit broadcast()"),
      "d100_pc_projection" ->
        ("the q93/q94 bounded quintile/decile set with a signed " +
          "SHIFT router: 1-row min/max bounds, 256-row bin " +
          "offsets/totals, 1-row decile cuts — all explicit " +
          "broadcast(); the projection relation never broadcasts"),
      "q96_apriori3" ->
        ("the Apriori L2 gate: the frequent-pair set is bounded by " +
          "|items|² (≤ 91 rows, a literal domain bound — explicit " +
          "broadcast() so the corpus-scaling pair stream is SEMI-" +
          "pruned with zero extra shuffles) plus the 1-row basket-" +
          "total scalar at the pair gate, triple gate, and measures " +
          "(q95's adjudication); the pair/triple fanouts and their " +
          "re-attach joins are hinted shuffles, never broadcast"))
    val flagged = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow.contains)
      .flatMap { q =>
        val n = AuditBroadcast.aggFedBroadcasts(plan(q))
        if (n > 0) Some(s"$q ($n)") else None
      }
    assert(flagged.isEmpty,
      s"unadjudicated aggregate-fed broadcast(s): ${flagged.mkString(", ")}")
    // and the allowlist itself must not rot: every entry still exists
    allow.keys.foreach(q => assert(SparkEntry.queries.contains(q),
      s"allowlist entry $q is no longer a registered query"))
  }

  test("singlePartitionWindows heuristic: global flags, partitioned " +
    "and scalar-branch plans don't") {
    // positive control, same rationale as the broadcast gate's: a
    // plan-format change must break THIS, not silently vacate the
    // global sweep below
    val global =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [row_number() windowspecdefinition(id#0L ASC)], [id#0L ASC]
        |   +- Sort [id#0L ASC NULLS FIRST], false, 0
        |      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
        |         +- FileScan parquet [id#0L]""".stripMargin
    assert(AuditBroadcast.singlePartitionWindows(global) == 1)
    val partitioned =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [row_number() windowspecdefinition(k#1L, id#0L ASC)], [k#1L], [id#0L ASC]
        |   +- Sort [k#1L ASC, id#0L ASC], false, 0
        |      +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=2]
        |         +- FileScan parquet [id#0L,k#1L]""".stripMargin
    assert(AuditBroadcast.singlePartitionWindows(partitioned) == 0)
    // a 1-row global-agg scalar in a JOIN BRANCH sits behind that
    // branch's own exchange — the t12 false-positive shape
    val scalarBranch =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [row_number() windowspecdefinition(k#1L, s#5 DESC)], [k#1L], [s#5 DESC]
        |   +- Sort [k#1L ASC, s#5 DESC], false, 0
        |      +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=3]
        |         +- Project [k#1L, s#5]
        |            +- BroadcastNestedLoopJoin BuildRight, Cross
        |               :- FileScan parquet [k#1L,s#5]
        |               +- BroadcastExchange IdentityBroadcastMode, [plan_id=4]
        |                  +- HashAggregate(keys=[], functions=[count(1)])
        |                     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
        |                        +- HashAggregate(keys=[], functions=[partial_count(1)])
        |                           +- FileScan parquet []""".stripMargin
    assert(AuditBroadcast.singlePartitionWindows(scalarBranch) == 0)
    // r17: a global window with NO exchange below was satisfied
    // TRIVIALLY by a one-partition child (e.g. an AQE-coalesced
    // checkpointed LogicalRDD) — the d47-class trap the old
    // first-Exchange rule could not see; it must flag
    val trivial =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [row_number() windowspecdefinition(id#0L ASC)], [id#0L ASC]
        |   +- Sort [id#0L ASC NULLS FIRST], false, 0
        |      +- Scan ExistingRDD[id#0L]""".stripMargin
    assert(AuditBroadcast.singlePartitionWindows(trivial) == 1)
    // r17: a PARTITIONED window never flags, whatever Exchange prints
    // first in its subtree (the r16 d47 false positive: the bounded
    // scalar branch's SinglePartition was first in print order when a
    // checkpoint truncated the hashpartitioning exchanges above it)
    val partScalarFirst =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [rank() windowspecdefinition(q#2L, d#3 ASC)], [q#2L], [d#3 ASC]
        |   +- Sort [q#2L ASC, d#3 ASC], false, 0
        |      +- Project [q#2L, d#3]
        |         +- BroadcastNestedLoopJoin BuildRight, Cross
        |            :- Scan ExistingRDD[q#2L,d#3]
        |            +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
        |               +- HashAggregate(keys=[], functions=[count(1)])
        |                  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=10]
        |                     +- HashAggregate(keys=[], functions=[partial_count(1)])
        |                        +- FileScan parquet []""".stripMargin
    assert(AuditBroadcast.singlePartitionWindows(partScalarFirst) == 0)
    // unordered global spec (frame only) is still global
    assert(AuditBroadcast.windowLineIsPartitioned(
      "Window [sum(x#1L) windowspecdefinition(specifiedwindowframe(" +
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) " +
        "AS s#9L]") == false)
  }

  test("NO registered query runs a single-partition window outside " +
    "the allowlist") {
    // the WindowExec "No Partition Defined" warnings in every bench
    // tail, adjudicated once and gated globally (ADVICE r6): a global
    // window funnels its whole input to one task, which is fine only
    // when that input is bounded by construction. A NEW query that
    // flags must partition its window or justify an entry here.
    val allow = Map(
      "d23_token_shards" ->
        "per-bin offset window: |shuffle width| rows",
      "m07_blob_shards" ->
        "per-bin offset window: |shuffle width| rows",
      "m08_shard_manifest" ->
        "composes m07's per-bin offset window",
      "q66_pareto" ->
        "cumulative-share window over the brand aggregate: |brand| rows",
      "d53_quota_alloc" ->
        "apportionment windows over the source aggregate: |sources| rows",
      "d62_epoch_shuffle" ->
        "per-bin offset window: 256 rows (hash-byte bins)",
      // d58 left this allowlist in r14: its domain-bounded cum window
      // over the qmic histogram was retired with the d23 two-level
      // prefix sum (per-bin offsets via a triangular |bins|-row
      // self-join, within-bin windows partitioned by bin)
      // r17: the r16 d47 entry (q_id-partitioned windows flagged via
      // a scalar branch's SinglePartition printing first) is GONE —
      // windowLineIsPartitioned now reads the partition keys off the
      // node line itself, so partitioned windows never flag (ADVICE
      // r16) and the heuristic catches the exchange-free trivially-
      // satisfied global window the old first-Exchange rule missed.
      "d78_sequence_pack" ->
        ("prefix-offset window over the per-bin sequence counts: " +
          "|bins| rows — d23/m07's allowlisted bounded-prefix-offset " +
          "pattern; the corpus-scaling window inside each bin is " +
          "partitioned by bin, only the |bins|-row offset relation " +
          "is global"))
    val flagged = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow.contains)
      .flatMap { q =>
        val n = AuditBroadcast.singlePartitionWindows(plan(q))
        if (n > 0) Some(s"$q ($n)") else None
      }
    assert(flagged.isEmpty,
      s"unadjudicated single-partition window(s): ${flagged.mkString(", ")}")
    allow.keys.foreach(q => assert(SparkEntry.queries.contains(q),
      s"allowlist entry $q is no longer a registered query"))
    // and the allowlisted plans still HAVE their bounded global
    // window (the entry documents a live shape, not history)
    allow.keys.foreach(q => assert(
      AuditBroadcast.singlePartitionWindows(plan(q)) >= 1,
      s"$q no longer has a single-partition window — drop its entry"))
  }

  test("d79 persisted-index probe DYNAMICALLY PRUNES the postings " +
    "partitions (the on-disk IVF contract)") {
    // the posting files are hive-partitioned by cell precisely so an
    // nprobe probe reads only those cells' bytes; this pin asserts
    // Catalyst actually plants the runtime partition filter on the
    // scan — without it the layout is decoration and the scan reads
    // all K cells at 100 TB
    val p = plan("d79_persisted_ivf")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the postings scan:\n$p")
  }

  test("skew drill: salted join shuffles on (key, salt)") {
    // the zipf-drill contract (round-4 verdict #6): Skew.saltedJoin
    // must scatter the hot key across salt sub-partitions — i.e. the
    // join's exchanges hash-partition on BOTH the key and __salt, and
    // no broadcast sneaks in to dodge the skew being measured.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = operators.SkewBench.zipfFact(spark, sf)
      val dim = operators.SkewBench.dim(spark)
      val p = operators.Skew.saltedJoin(fact, dim, "k", salt = 8)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), s"skew pin dodged:\n$p")
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(p).isDefined,
        s"salted join does not shuffle on (key, salt):\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("d19 broadcasts the codebook; struct-min partial-aggregates") {
    val p = plan("d19_pq_codes")
    // vectors must never shuffle before the per-(vec,subspace) min:
    // codebook rides a broadcast, the min partial-combines map-side
    assert(p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin")
      && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("partial_"), s"d19 min lost its partial:\n$p")
  }

  test("d18 mixture rates ride a broadcast; membership is a filter") {
    val p = plan("d18_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"),
      s"d18 char-mass agg has no map-side combine:\n$p")
  }

  test("f04 read prunes to the lang partition; q48 pushes its range") {
    val f04 = plan("f04_partition_prune")
    assert(f04.contains("PartitionFilters"), f04)
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]*\\]".r
      .findFirstIn(f04).isDefined, s"f04 scan not pruned:\n$f04")
    val q48 = plan("q48_gap_fill")
    assert(q48.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q48 range filter not pushed:\n$q48")
    // exactly one window pass (the as-of fill), partitioned by series
    assert(count(q48, "Window") == 1, q48)
  }

  test("t11 strip never windows, never broadcasts corpus-sized sides") {
    val p = plan("t11_boiler_strip")
    // reassembly is a hash aggregate over doc_id, NOT a global or
    // per-lang window sort; candidate flagging stays an equi-join
    assert(!p.contains("Window"), s"t11 grew a window:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    // common/covered/rebuilt all scale with the corpus: every join
    // must be a shuffled build (a broadcast here OOMed at sf1)
    assert(!p.contains("BroadcastHashJoin"),
      s"t11 broadcasts an aggregate-derived relation:\n$p")
  }

  test("d99/d101 covariance moments are JOIN-FREE: within-row pair " +
    "expansion partial-aggregates before the single tiny exchange") {
    // r16: was a 64×-exploded vec_id self-join (2·64N rows through a
    // hash join). The moment aggregate must now sit directly over the
    // generator — zero joins, zero exchanges below it, one exchange
    // total (≤4096 partial rows per partition).
    val p = graft.operators.Similarity.pcaMoments(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"pcaMoments re-grew a join:\n$p")
    assert(count(p, "Exchange") == 1, s"pcaMoments exchanges:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(count(p, "Scan parquet|FileScan") == 1, p)
  }

  test("q94 final adaptive plan REUSES the shared cust exchange " +
    "(AQE dedupes the four RFM-quartile scans)") {
    // adjudicated r15: plain AQE beats persist() here BECAUSE the
    // shared `cust` subtree comes back as ReusedExchange nodes — a
    // Spark upgrade that regresses this to four independent subtrees
    // should fail loudly, not silently 4× the corpus work
    val df = SparkEntry.queries("q94_rfm")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"q94 lost AQE exchange reuse:\n$p")
  }
}
