package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  test("every relational query runs non-empty at sf0.001") {
    Relational.ops.foreach { op =>
      val df = op.run(spark, sf)
      assert(df.count() > 0, s"${op.key} returned no rows")
    }
  }

  test("q01 aggregates are exact (decimal-path determinism)") {
    val rows = Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("A", "N", "R"))
    val total = rows.map(_.getLong(rows.head.length - 1)).sum
    // the shipdate filter keeps roughly half the 6000 sf0.001 rows
    assert(total > 1000 && total <= 6000)
  }

  test("q05 top-k is sorted descending and bounded") {
    val rev = Relational.q05TopkRevenue(spark, sf)
      .collect().map(_.getDouble(1))
    assert(rev.length == 10)
    assert(rev.sameElements(rev.sorted(Ordering[Double].reverse)))
  }

  test("q12 approx distinct is within rsd bounds of exact") {
    val approx = Relational.q12ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Relational.q07Distinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      assert(math.abs(a - exact(k)).toDouble / exact(k) < 0.05,
        s"flag $k: approx $a vs exact ${exact(k)}")
    }
  }

  test("q16 group-size contract: corpus groups are inside " +
    "Q16MaxGroupRows (the exact-percentile admission bound)") {
    // the pre-flight a production caller runs before picking q16
    // over q47 (sketch) / q71+q74 (value-histogram exact): the exact
    // `percentile` aggregate buffers a whole group in ONE task, so
    // its use is contracted to max-group-rows <= Q16MaxGroupRows
    val maxGroup = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(maxGroup > 0 && maxGroup <= Relational.Q16MaxGroupRows,
      s"largest l_returnflag group ($maxGroup rows) breaches the " +
        s"q16 buffer contract (${Relational.Q16MaxGroupRows}) — " +
        "switch this workload to q47 or q71/q74")
  }

  test("q47 sketch quantiles bound error against q16 exact percentiles") {
    val approx = Relational.q47ApproxPercentile(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.get(1).toString.toDouble, r.get(2).toString.toDouble,
          r.get(3).toString.toDouble)))
      .toMap
    val exact = Relational.q16Percentiles(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.get(3).toString.toDouble)))
      .toMap
    // accuracy 10000 ⇒ rank error ≤ n/10000 ≈ exact at this sf; allow
    // a small value-relative slack for interpolation-definition drift
    // (approx returns an observed value, exact interpolates)
    approx.foreach { case (k, (qtyP50, qtyP90, p25Price)) =>
      val (p50, p90, p25) = exact(k)
      assert(math.abs(qtyP50 - p50) / p50 < 0.05,
        s"$k p50: $qtyP50 vs $p50")
      assert(math.abs(qtyP90 - p90) / p90 < 0.05,
        s"$k p90: $qtyP90 vs $p90")
      assert(math.abs(p25Price - p25) / p25 < 0.05,
        s"$k p25 price: $p25Price vs $p25")
    }
  }

  test("q47 sketch quantile plan partial-aggregates (mergeable sketch)") {
    val p = Relational.q47ApproxPercentile(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"sketch must combine map-side:\n$p")
  }

  test("q02 plan pushes filter and prunes columns at the scan") {
    val plan = Relational.q02FilterProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"), plan)
  }

  // Scale audit (SURVEY.md §4/§7): the physical strategies that keep
  // these plans viable at 1000 executors must actually be chosen.
  test("q03 joins its dimension tables by broadcast, not shuffle") {
    val plan = Relational.q03JoinBroadcast(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q01 aggregates map-side before the exchange") {
    val plan = Relational.q01PricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    // partial aggregate below the exchange, final above it
    assert(plan.contains("partial_sum"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q13 as-of join is one key-shuffle, not a range join") {
    val qe = Relational.q13AsofJoin(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    // union + running-last window: no join operator at all, and the
    // only wide operations are the key exchange and the final sort
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      plan)
    val r = Relational.q13AsofJoin(spark, sf).collect()
    assert(r.nonEmpty && r.forall(_.getLong(3) >= 0)) // gap_us >= 0
  }

  test("q48 gap fill forward-fills missing days per series") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, sequence}
    // series 1: days 1,4 observed; series 2: single day (no gaps)
    val daily = Seq((1L, "2024-01-01", 10L), (1L, "2024-01-04", 40L),
      (2L, "2024-03-01", 7L))
      .toDF("k", "day", "qty")
      .select(col("k"), col("day").cast("date").as("day"), col("qty"))
    val spine = daily.groupBy(col("k"))
      .agg(org.apache.spark.sql.functions.min(col("day")).as("d0"),
        org.apache.spark.sql.functions.max(col("day")).as("d1"))
      .select(col("k"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val filled = graft.operators.AsOf
      .asofJoin(spine, daily, "k", "day", "day")
      .select(col("k"), col("day").cast("string"), col("r_qty"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(filled == Map(
      (1L, "2024-01-01") -> 10L, (1L, "2024-01-02") -> 10L,
      (1L, "2024-01-03") -> 10L, (1L, "2024-01-04") -> 40L,
      (2L, "2024-03-01") -> 7L))
  }

  test("q15 grouped top-k partial-aggregates before the shuffle") {
    val plan = graft.operators.TopK.q15GroupedTopk(spark, sf)
      .queryExecution.executedPlan.toString
    // bounded heaps combine map-side: partial + final aggregate nodes
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_topkagg"), plan)
  }

  test("q05 top-k never sorts the full table") {
    val plan = Relational.q05TopkRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("every registered query plans without cartesian/nested-loop joins") {
    // d05 broadcasts an 8-row query set and d10 a 16-row centroid set
    // against the candidates on purpose — the legitimate
    // broadcast-nested-loops in the suite (the big side streams once;
    // nothing quadratic in the data). d11 is the declared-exact
    // all-pairs near-dup VALIDATION form (its production path is
    // d12's bucketed equi-join, which is not in this allowlist).
    // d19 broadcasts a 16-row PQ codebook the same way; d22's k-means
    // broadcasts its 16 trained centroids (a LITERAL relation —
    // collected between rounds, bounded k×dim by construction).
    // d25 rides the same literal 16-row centroid broadcast for its
    // assignment and probe stages (the search join itself is an
    // equi-join on the cell id). d28/d29 compose d25's IVF leg, so
    // the same literal centroid broadcast appears in their assignment
    // and probe stages (the ADC scan joins are all equi-joins).
    // t12/t13 cross-join ONE corpus-stats row by broadcast (the d23
    // scalar pattern) — a 1-row build side, nothing quadratic.
    val allowNestedLoop = Set("d05_cosine_topk", "d10_ivf_assign",
      "d11_embed_neardup", "d19_pq_codes", "d22_kmeans_ivf",
      "d25_ivf_search", "d28_ivfpq_search", "d29_residual_pq",
      "s10_cell_route", "t12_tfidf", "t13_bm25",
      // d33 composes the d22 literal centroid broadcast for its
      // assignment stage; d34 is d25's search leg (same centroid
      // broadcast); t15/t16/t21/d38 cross-join a 1-row corpus-total
      // scalar (the d23 pattern)
      "d33_semdedup", "t15_unigram_lp", "d34_hard_negatives",
      "t16_bigram_lp", "t21_pmi_collocations", "d38_source_weights",
      // d44 cross-joins the 16-row ±1 plane relation by broadcast
      // (the projection matrix — bounded literal); d45 broadcasts
      // the 8-row query set against the candidates for its
      // shortlist scan, the d05 shape
      "d44_random_projection", "d45_projected_rerank",
      // d47 composes d29's literal centroid broadcast (IVF leg) +
      // d30's bounded shortlist re-rank — same adjudication as both
      "d47_residual_rerank",
      // d58 cross-joins its 1-row decile-cut relation by broadcast
      // (the t12 scalar pattern — folded into the registered plan in
      // r9 so the gates can see it; previously an eager side-job)
      "d58_quality_calibration",
      // d64 is d05's calibration-baseline shape per prefix width
      // (8-row query set broadcast against the candidates)
      "d64_matryoshka_audit",
      // d66 composes the d22 literal centroid broadcast (bounded
      // k×dim, collected between k-means rounds) for its cell
      // assignment; the candidate join itself is a capped equi-join.
      // d51 rides the d66 graph (round-9 verdict item 4 re-base), so
      // the same literal broadcast appears in its plan. d67 is d64's
      // truncation shape + d30's bounded shortlist re-rank (8-row
      // query set broadcast) — same adjudication as both parents.
      "d66_cell_knn", "d51_knn_label", "d67_mrl_rerank",
      // d74's one-row node/edge/wedge totals cross-join onto the
      // one-row triangle count by broadcast (the t12 scalar pattern);
      // its graph input is the d66 chain (literal centroid broadcast)
      "d74_triangles",
      // d75 composes d25's literal centroid broadcast for its
      // assignment and probe legs (same adjudication as d25)
      "d75_filtered_ivf",
      // d95 composes d25's literal centroid broadcasts at BOTH
      // router levels (L1 cells and the 4-row L2 groups — each a
      // collected k×dim literal) plus the bounded |cells|-row
      // cell→group relation; the postings join is the d25 equi-join.
      // d96 is the same descent over the LOADED router tree (the
      // d79 scan-fed shape: 4-row l2cents + |cells|-row cellgroups
      // off committed parquet)
      "d95_two_level_route", "d96_persisted_router",
      // t39 cross-joins the 4-row LITERAL robots ruleset by
      // broadcast (prefix match is an inequality — no equi-key);
      // bounded by the ruleset, never corpus-scaling
      "t39_robots_rules",
      // t32 cross-joins ONE corpus-token-total row by broadcast (the
      // t12/t15 scalar pattern) — a 1-row build side, nothing
      // quadratic; its vocabulary-sized term join is shuffle_hash
      "t32_source_kl",
      // d79/d81/d82 are d25/d29's probe leg over the LOADED index:
      // the same bounded 16-row centroid relation broadcasts against
      // the queries (scan-fed now — off the committed parquet); d82
      // adds d30's bounded shortlist re-rank (queries×R broadcast)
      "d79_persisted_ivf", "d81_incremental_ivf",
      "d82_persisted_prod",
      // d98 is d81's probe leg with the tombstone anti-join spliced
      // in front of ranking: the same bounded scan-fed centroid
      // broadcast against the 8-row query set (d79/d81's
      // adjudication); the log anti-join itself is a hinted shuffle
      // equi-join and the postings joins are d25's equi-joins
      "d98_tombstone_delete",
      // d87 is d81's probe leg over the COMPACTED committed tree —
      // the same bounded scan-fed centroid broadcast as d79/d81.
      "d87_index_compaction",
      // d88 broadcasts the 8 packed query WORDS against the
      // signature scan (the d05/d45 8-row-query-set shape, but the
      // probe side is 8 bytes/row); d90's shortlist stage is the
      // same shape, and its greedy rounds broadcast the bounded
      // selected set (queries×pick rows); d91 runs d88's signature
      // scan twice (once per fused retriever) plus d67's prefix
      // shortlist — all bounded build sides, nothing quadratic
      "d88_binary_rerank", "d90_mmr_rerank", "d91_rank_fusion",
      // d89 joins the 11-point scale ladder against 41 literal
      // powers of two on an inequality (≤451 rows total — the whole
      // relation is smaller than one shuffle header)
      "d89_index_provisioning",
      // d92 cross-joins the 1-row corpus-totals scalar and the 1-row
      // selection-threshold scalar by broadcast (the t12/d58
      // pattern) — 1-row build sides, nothing quadratic
      "d92_dsir",
      // q93/q94 cross-join 1-row scalars by broadcast (the manifest
      // max routing the d46 bins; q94 adds the max-date scalar and
      // three 1-row quintile-cut relations) — the t12/d58 pattern,
      // 1-row build sides, nothing quadratic. q95 cross-joins the
      // 1-row basket-total scalar the same way.
      "q93_file_binpack", "q94_rfm", "q95_assoc_rules",
      // d100 cross-joins the 1-row min/max bounds, 1-row total, and
      // 1-row decile-cut relations by broadcast (q93/q94's scalar
      // pattern with a signed shift router) — nothing quadratic
      "d100_pc_projection",
      // q96 cross-joins the 1-row basket-total scalar (q95's
      // pattern) at the pair gate, the triple gate, and the final
      // measures — 1-row build sides, nothing quadratic
      "q96_apriori3",
      // d102 cross-joins the NumQueries-row projected-query relation
      // by broadcast (d05's brute-force shape on the 4-dim sketch) —
      // bounded by the serving knob, nothing quadratic
      "d102_pca_prefilter")
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      if (!allowNestedLoop(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }
}
