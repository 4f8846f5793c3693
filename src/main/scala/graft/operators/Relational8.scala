package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Invariant, Op, Tables}

/** Round-11 relational additions (SURVEY.md §2a): in-plan Bloom-filter
  * join pruning and the nearest-neighbor as-of join. */
object Relational8 {

  // ---- q84: Bloom-pruned selective join -----------------------------

  /** Bloom geometry: 2^16 bits (8 KiB as 1024 longs), 3 hashes. At the
    * registered selectivity (~30 build keys) the false-positive rate is
    * ~(3·30/65536)³ ≈ 2e-9; a production build sizes bits ≈ 10×keys for
    * ~1% FPR and the plan shape below is unchanged (the filter is still
    * one broadcast row). */
  val BloomBits = 1 << 16
  val BloomHashes = 3

  /** q84: Bloom-filter join pruning — the runtime-filter pattern for
    * the join whose build side is too big to broadcast as a hash
    * relation but whose BLOOM (KiB–MiB) broadcasts trivially. The
    * selective customer subset reduces, with a distributed bit_or
    * aggregate, to a DENSE 1024-long bitset (8 KiB); that bounded
    * result is collected once and re-enters the probe plan as a
    * LITERAL array (the d22 adjudicated pattern: a bounded collect
    * between plan stages, exactly how Spark's own injected runtime
    * bloom filters reuse a subquery result), so each order tests its
    * 3 hash positions with an O(1) `element_at` on the literal —
    * stateless, no join, no broadcast exchange — and non-matching
    * fact rows die AT THE SCAN instead of being shuffled and then
    * dropped. The surviving ~build-sized slice then hash-joins the
    * build side exactly (shuffle_hash, standing in for the
    * at-scale case where neither side broadcasts). Bloom positives are
    * a superset of true matches, so the exact join makes the result
    * identical to the unpruned plan — the oracle is the plain join,
    * and no hash needs to be engine-portable. Both hash legs cast the
    * key to long first, so physical-schema drift (int32 vs int64
    * parquet) can never make build and probe hash different
    * representations of the same key. A production build sizes
    * bits ≈ 10×keys for ~1% FPR; the probe stays an O(1) indexed
    * lookup because the bitset is dense, not a keyed map. */
  def q84BloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val build = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_name"))
    def positions(key: org.apache.spark.sql.Column) =
      (0 until BloomHashes).map(i =>
        pmod(xxhash64(lit(i), key.cast("long")), lit(BloomBits.toLong)))
    // distributed build: explode positions, OR per word, densify to
    // BloomBits/64 longs in the final 1-row aggregate
    val words = build
      .select(explode(array(positions(col("c_custkey")): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("word"),
        call_function("shiftleft", lit(1L),
          (col("pos") % 64).cast("int")).as("bit"))
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("bits"))
      .agg(map_from_entries(collect_list(
        struct(col("word"), col("bits")))).as("m"))
      .select(transform(
        sequence(lit(0L), lit((BloomBits / 64 - 1).toLong)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("bloom"))
    // bounded collect (8 KiB): the bitset becomes a literal in the
    // probe plan — no exchange, no join, filter evaluable at the scan
    val bitset: Array[Long] = words.head.getSeq[Long](0).toArray
    val bloomLit = lit(bitset)
    val probe = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"))
    val hit = positions(col("o_custkey")).map { pos =>
      val word = shiftright(pos, 6).cast("int")
      val bit = call_function("shiftleft", lit(1L),
        (pos % 64).cast("int"))
      (element_at(bloomLit, word + 1).bitwiseAND(bit)) =!= 0L
    }.reduce(_ && _)
    probe.filter(hit)
      .join(build.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 4)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q84Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- q85: nearest as-of join ---------------------------------------

  /** q85: NEAREST as-of join — completes the as-of family (q13
    * backward, q59 forward, q52 tolerance): each purchase takes its
    * user's closest view in EITHER direction (the sensor-alignment
    * semantics pandas merge_asof(direction='nearest') defines), ties
    * broken toward the earlier (backward) match. Composed from the
    * same single-key-shuffle union-window plan as q13/q59 — one
    * backward fill + one forward fill over the SAME shuffled
    * (user, ts) layout, then a stateless per-row argmin — so the cost
    * is two windows on one exchange, never a per-row range probe.
    * Views pre-dedup per (user, ts) on max event_id so equal-timestamp
    * winners match DuckDB's ASOF tie contract; a view at exactly the
    * purchase ts appears on both sides with gap 0 and resolves
    * backward. Rows with no view on either side keep NULLs (outer). */
  def q85AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val back = AsOf.asofJoin(purchases, views, "user_id", "ts", "ts")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts"),
        col("r_view_id").as("b_view_id"),
        (unix_micros(col("ts")) - unix_micros(col("r_ts")))
          .as("b_gap_us"))
    val fwd = AsOf.asofJoinForward(purchases, views, "user_id", "ts",
        "ts")
      .select(col("event_id").as("purchase_id"),
        col("r_view_id").as("f_view_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("ts")))
          .as("f_gap_us"))
    val takeBack = col("b_view_id").isNotNull &&
      (col("f_view_id").isNull || col("b_gap_us") <= col("f_gap_us"))
    back.join(fwd.hint("shuffle_hash"), Seq("purchase_id"))
      .select(col("purchase_id"), col("user_id"),
        when(takeBack, col("b_view_id"))
          .otherwise(col("f_view_id")).as("view_id"),
        when(takeBack, col("b_gap_us"))
          .when(col("f_view_id").isNotNull, col("f_gap_us"))
          .as("gap_us"),
        when(takeBack, lit("backward"))
          .when(col("f_view_id").isNotNull, lit("forward"))
          .as("direction"))
      .orderBy(col("purchase_id"))
  }

  val q85Sql: String =
    """WITH views AS (
      |  SELECT user_id, ts, MAX(event_id) AS view_id FROM events
      |  WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |b AS (
      |  SELECT p.event_id AS purchase_id, p.user_id,
      |    v.view_id AS b_view_id,
      |    epoch_us(p.ts) - epoch_us(v.ts) AS b_gap_us
      |  FROM p ASOF LEFT JOIN views v
      |    ON p.user_id = v.user_id AND v.ts <= p.ts),
      |f AS (
      |  SELECT p.event_id AS purchase_id,
      |    v.view_id AS f_view_id,
      |    epoch_us(v.ts) - epoch_us(p.ts) AS f_gap_us
      |  FROM p ASOF LEFT JOIN views v
      |    ON p.user_id = v.user_id AND v.ts >= p.ts)
      |SELECT b.purchase_id, b.user_id,
      |  CASE WHEN b_view_id IS NOT NULL AND
      |      (f_view_id IS NULL OR b_gap_us <= f_gap_us)
      |    THEN b_view_id ELSE f_view_id END AS view_id,
      |  CASE WHEN b_view_id IS NOT NULL AND
      |      (f_view_id IS NULL OR b_gap_us <= f_gap_us)
      |    THEN b_gap_us ELSE f_gap_us END AS gap_us,
      |  CASE WHEN b_view_id IS NOT NULL AND
      |      (f_view_id IS NULL OR b_gap_us <= f_gap_us)
      |    THEN 'backward'
      |    WHEN f_view_id IS NOT NULL THEN 'forward' END AS direction
      |FROM b JOIN f ON b.purchase_id = f.purchase_id
      |ORDER BY b.purchase_id""".stripMargin

  // ---- q86: correlated EXISTS / NOT-EXISTS pair, decorrelated ------

  /** Ship-date cutoff that splits the synthetic corpus into on-time /
    * late lines (its dates span 1995–2001). */
  val LateCutoff = "1998-01-31"

  /** q86: the TPC-H Q21 shape — per supplier, count the multi-supplier
    * orders where THAT supplier is the only late one (EXISTS another
    * supplier on the order, NOT EXISTS another late supplier). The
    * correlated-subquery formulation re-scans lineitem per outer row;
    * the scale form DECORRELATES both quantifiers into aggregates of
    * ONE distinct (order, supplier) relation — n_supp > 1 replaces
    * EXISTS, n_late = 1 replaces NOT-EXISTS-other-late (the late
    * probe row itself accounts for the 1) — so the whole query is two
    * aggregates over one relation plus two order-keyed hash joins.
    * The oracle runs the textbook correlated EXISTS/NOT EXISTS SQL,
    * so the hash match PROVES the decorrelation, not just restates
    * it. */
  def q86ExistsDecorrelated(spark: SparkSession, dir: String)
      : DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val allSup = li.select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    val late = li
      .filter(col("l_shipdate").cast("date") > lit(LateCutoff))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val nSup = allSup.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"))
    val nLate = late.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_late"))
    val waiting = late
      .join(nSup.hint("shuffle_hash"), Seq("l_orderkey"))
      .join(nLate.hint("shuffle_hash"), Seq("l_orderkey"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    waiting.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  val q86Sql: String =
    s"""WITH sl AS (
       |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
       |  WHERE CAST(l_shipdate AS DATE) > DATE '$LateCutoff')
       |SELECT s.s_suppkey, s.s_name,
       |  CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM sl l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
       |WHERE EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND CAST(l3.l_shipdate AS DATE) > DATE '$LateCutoff')
       |GROUP BY s.s_suppkey, s.s_name
       |ORDER BY numwait DESC, s.s_suppkey""".stripMargin

  // ---- q87: mergeable-sketch incremental distinct -------------------

  /** q87: incremental DISTINCT maintenance via mergeable HLL sketches
    * — closes the gap q83 documents: count/sum/min/max merge by
    * partial states, but exact distinct is NOT decomposable; the
    * production answer is a mergeable sketch kept as the aggregate's
    * stored state. Base and delta (the d54 every-10th split) each
    * reduce to one DataSketches HLL sketch per event type
    * (hll_sketch_agg — Spark-native, codegen'd, mergeable by
    * construction); refresh is hll_union on the BOUNDED sketch
    * relation — O(types · sketch bytes), never a re-scan of history —
    * and [[q87Check]] holds merge(base, delta) == one-shot full-corpus
    * sketch (the statement that makes the refresh trustworthy) plus
    * the estimate's error against the exact_full column. DuckDB's
    * approx_distinct uses a different sketch, so no SQL oracle. */
  def q87HllMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("event_id"))
    val base = e.filter(col("event_id") % 10 =!= 0)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk_base"))
    val delta = e.filter(col("event_id") % 10 === 0)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk_delta"))
    val full = e.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk_full"),
        count_distinct(col("user_id")).as("exact_full"))
    base.join(delta, Seq("event_type"))
      .join(full, Seq("event_type"))
      .select(col("event_type"),
        expr("hll_sketch_estimate(sk_base)").as("est_base"),
        expr("hll_sketch_estimate(hll_union(sk_base, sk_delta))")
          .as("est_merged"),
        expr("hll_sketch_estimate(sk_full)").as("est_full"),
        col("exact_full"),
        // a union's estimate uses the composite estimator, a streamed
        // sketch's the HIP one, so the full sketch is read through a
        // union too: at sf0.1 the two unions serialize byte-identical,
        // yet est_merged reads 1488 against est_full's 1494
        (expr("hll_sketch_estimate(hll_union(sk_base, sk_delta))") ===
          expr("hll_sketch_estimate(hll_union(sk_full, sk_full))"))
          .as("merge_consistent"))
      .orderBy(col("event_type"))
  }

  /** q87's check: merging is lossless on every row, and `est_full` is
    * within 3 standard errors (1.04/√4096, hll_sketch_agg's default
    * lgConfigK 12) of the exact count, which `exact_full` must be. */
  val q87Check: Invariant = Invariant("merge lossless, estimate within " +
    "3 HLL standard errors", (spark, dir, res) => {
      val exact = Tables.load(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact"))
      Invariant.failures(res.join(exact, Seq("event_type"), "full"),
        col("merge_consistent") && col("exact_full") === col("exact") &&
          abs(col("est_full") - col("exact")) <= col("exact") * (3 * 1.04 / 64))
    })

  // ---- q88: winsorized robust aggregation ---------------------------

  /** q88: winsorized (outlier-clamped) robust aggregation — the
    * standard treatment when a mean must survive heavy tails (sensor
    * glitches, price fat-fingers, crawl-size outliers): clamp each
    * value to its group's [p5, p95] band, then aggregate. Exactness
    * discipline: values move to integer CENTS (decimal ×100, exact),
    * cuts come from `percentile_disc` — the SQL-standard discrete
    * percentile, an ACTUAL data value, so clamping and the sums stay
    * pure int64 and the report is engine-exact (interpolated
    * percentiles would inject engine-specific float division into
    * every clamped value). Plan: one pass builds the |groups|-row cut
    * relation, which broadcasts back onto the fact scan (the q63
    * per-group-medians pattern, gate-allowlisted) — the fact table
    * never shuffles for the clamp; the final aggregate
    * partial-combines. The means are ONE double division at the end.
    * percentile_disc buffers a group's values in one aggregator like
    * q16 (same [[Relational.Q16MaxGroupRows]] envelope); past that,
    * q47's sketch cuts are the drop-in. */
  def q88Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
    val cuts = li.groupBy(col("rf")).agg(
      expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)" +
        " AS BIGINT)").as("lo"),
      expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)" +
        " AS BIGINT)").as("hi"))
    li.join(broadcast(cuts), Seq("rf"))
      .select(col("rf"), col("cents"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("cents"))).as("w"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
        sum(col("cents")).cast("long").as("sum_cents"),
        sum(col("w")).cast("long").as("sum_wins_cents"))
      .withColumn("mean_raw",
        round(col("sum_cents").cast("double") / col("n") / 100, 4)
          + lit(0.0))
      .withColumn("mean_wins",
        round(col("sum_wins_cents").cast("double") / col("n") / 100, 4)
          + lit(0.0))
      .orderBy(col("rf"))
  }

  val q88Sql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM lineitem),
      |cuts AS (
      |  SELECT rf,
      |    CAST(quantile_disc(cents, 0.05) AS BIGINT) AS lo,
      |    CAST(quantile_disc(cents, 0.95) AS BIGINT) AS hi
      |  FROM v GROUP BY rf)
      |SELECT v.rf, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(lo) AS lo_cents, MAX(hi) AS hi_cents,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS BIGINT)
      |    AS sum_wins_cents,
      |  ROUND(CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
      |    / COUNT(*) / 100, 4) + 0.0 AS mean_raw,
      |  ROUND(CAST(CAST(SUM(GREATEST(lo, LEAST(hi, cents)))
      |    AS BIGINT) AS DOUBLE) / COUNT(*) / 100, 4) + 0.0
      |    AS mean_wins
      |FROM v JOIN cuts USING (rf)
      |GROUP BY v.rf ORDER BY v.rf""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q84_bloom_prune", q84BloomPrune, q84Sql),
    Op("q85_asof_nearest", q85AsofNearest, q85Sql),
    Op("q86_exists_decorrelated", q86ExistsDecorrelated, q86Sql),
    Op("q87_hll_merge", q87HllMerge, q87Check),
    Op("q88_winsorize", q88Winsorize, q88Sql))
}
