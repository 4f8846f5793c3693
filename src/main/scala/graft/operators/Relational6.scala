package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Pins, Tables}

/** Sixth relational tranche (SURVEY.md §2a): the reporting-layer
  * analytics a warehouse user runs daily over the reference's data
  * model — concentration (Pareto/ABC), trend (YoY), acquisition
  * (cumulative-distinct curve) and affinity (market basket). */
object Relational6 {

  /** q66: Pareto / ABC concentration — rank brands by revenue, take
    * the running share of total, classify A (first 80% of revenue),
    * B (to 95%), C (tail). The cumulative window is GLOBAL but runs
    * over the brand-level aggregate — |brand| rows by construction
    * (the d23 bounded-global-window discipline, allowlisted in the
    * PlanShapeSpec gate); the corpus-scale work is the partial-agg
    * groupBy underneath. Revenue is exact integer cents; the only
    * double op is the final share division, identical IEEE both
    * engines. */
  def q66Pareto(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val pt = Tables.load(spark, dir, "part")
    val rev = li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("revenue_cents"))
    val wCum = Window
      .orderBy(col("revenue_cents").desc, col("p_brand"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rev
      .withColumn("share", sum(col("revenue_cents")).over(wCum)
        .cast("double") / sum(col("revenue_cents")).over(wAll))
      .select(col("p_brand"), col("revenue_cents"),
        (round(col("share"), 6) + lit(0.0)).as("cum_share"),
        when(col("share") <= 0.80, "A")
          .when(col("share") <= 0.95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("revenue_cents").desc, col("p_brand"))
  }

  val q66Sql: String =
    """WITH rev AS (
      |  SELECT p_brand,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS revenue_cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand),
      |c AS (
      |  SELECT p_brand, revenue_cents,
      |    CAST(SUM(revenue_cents) OVER (
      |      ORDER BY revenue_cents DESC, p_brand
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE)
      |    / CAST(SUM(revenue_cents) OVER () AS DOUBLE) AS share
      |  FROM rev)
      |SELECT p_brand, revenue_cents,
      |  ROUND(share, 6) + 0.0 AS cum_share,
      |  CASE WHEN share <= 0.80 THEN 'A'
      |       WHEN share <= 0.95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM c ORDER BY revenue_cents DESC, p_brand""".stripMargin

  /** q67: year-over-year growth — revenue per (nation, year) with the
    * previous year's figure and the percent delta alongside. The agg
    * shuffles once on (nation, year); the lag window repartitions the
    * BOUNDED aggregate on nation only. First year per nation has no
    * prior → NULLs, carried honestly. Integer cents in; the growth
    * division is the one double op. */
  def q67Yoy(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val rev = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("revenue_cents"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
    rev.withColumn("prev_cents", lag(col("revenue_cents"), 1).over(w))
      .withColumn("yoy_pct",
        round((col("revenue_cents") - col("prev_cents")).cast("double")
          * 100 / col("prev_cents"), 6) + lit(0.0))
      .orderBy(col("n_name"), col("yr"))
  }

  val q67Sql: String =
    """WITH rev AS (
      |  SELECT n_name,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      AS BIGINT) AS revenue_cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, yr, revenue_cents,
      |  LAG(revenue_cents) OVER (PARTITION BY n_name ORDER BY yr)
      |    AS prev_cents,
      |  ROUND(CAST(revenue_cents - LAG(revenue_cents) OVER (
      |      PARTITION BY n_name ORDER BY yr) AS DOUBLE) * 100
      |    / LAG(revenue_cents) OVER (PARTITION BY n_name ORDER BY yr),
      |    6) + 0.0 AS yoy_pct
      |FROM rev ORDER BY n_name, yr""".stripMargin

  /** q68: customer-acquisition curve — per nation and month: how many
    * customers placed their FIRST order that month, and the running
    * distinct-customer total. The naive form (running COUNT(DISTINCT)
    * window) rescans every prefix; this one is two partial-aggregable
    * shuffles — min-date per customer, count per (nation, month) —
    * plus a cumulative sum over the bounded month relation,
    * partitioned by nation (no global window). */
  def q68CumDistinct(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val firstMo = o.groupBy(col("o_custkey"))
      .agg(min(date_trunc("MONTH", col("o_orderdate")).cast("date"))
        .as("mo"))
    val monthly = firstMo
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("mo"))
      .agg(count(lit(1)).as("new_customers"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("mo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_customers", sum(col("new_customers")).over(w))
      .orderBy(col("n_name"), col("mo"))
  }

  val q68Sql: String =
    """WITH first_mo AS (
      |  SELECT o_custkey,
      |    CAST(MIN(DATE_TRUNC('month', o_orderdate)) AS DATE) AS mo
      |  FROM orders GROUP BY o_custkey),
      |monthly AS (
      |  SELECT n_name, mo, COUNT(*) AS new_customers
      |  FROM first_mo
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, mo, new_customers,
      |  CAST(SUM(new_customers) OVER (PARTITION BY n_name ORDER BY mo
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_customers
      |FROM monthly ORDER BY n_name, mo""".stripMargin

  /** q69: market-basket brand affinity — which brand pairs co-occur
    * in the same order, with Jaccard affinity. All-pairs on the
    * CORPUS would be quadratic; this is the bounded-fanout form: the
    * distinct (order, brand) relation self-joins on the order key
    * (per-order fanout ≤ basket size, so output is O(orders · k²)
    * with small k), shuffle-hash hinted on both sides because the
    * distinct relation is aggregate-derived and statless (d49's
    * lesson — Catalyst would broadcast it and OOM at 100 TB). The
    * per-brand totals ARE bounded (|brand| rows) and ride the
    * adjudicated broadcast. Jaccard = both / (a + b − both), exact
    * integers into one double division. */
  def q69BasketPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val pt = Tables.load(spark, dir, "part")
    val ob = li.join(pt, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val cnt = ob.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_orders"))
    val pairs = ob.as("a")
      .join(ob.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"),
        col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(cnt.select(col("p_brand").as("brand_a"),
        col("n_orders").as("n_a")), Seq("brand_a"))
      .join(cnt.select(col("p_brand").as("brand_b"),
        col("n_orders").as("n_b")), Seq("brand_b"))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        col("n_a"), col("n_b"),
        (round(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")), 6) + lit(0.0))
          .as("jaccard"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  val q69Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |cnt AS (
      |  SELECT p_brand, COUNT(*) AS n_orders FROM ob GROUP BY 1),
      |pairs AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |    COUNT(*) AS n_both
      |  FROM ob a JOIN ob b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, n_both,
      |  ca.n_orders AS n_a, cb.n_orders AS n_b,
      |  ROUND(CAST(n_both AS DOUBLE)
      |    / (ca.n_orders + cb.n_orders - n_both), 6) + 0.0 AS jaccard
      |FROM pairs
      |JOIN cnt ca ON ca.p_brand = brand_a
      |JOIN cnt cb ON cb.p_brand = brand_b
      |ORDER BY brand_a, brand_b""".stripMargin

  /** q70: maximum drawdown — the peak-to-trough deficit of a running
    * net flow (shipped minus returned quantity per supplier-day), the
    * inventory-health metric a monitoring layer derives from any
    * signed series. Cumulative sum and running peak share ONE
    * window partitioning (one exchange on the supplier key); the
    * final per-supplier max is a partial-aggregable groupBy. Exact
    * integer quantities end-to-end — no doubles at all. */
  def q70Drawdown(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val qty = col("l_quantity").cast("long")
    val daily = li
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(when(col("l_returnflag") === "R", -qty).otherwise(qty))
        .as("delta"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum", sum(col("delta")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_days"),
        max(col("peak") - col("cum")).as("max_drawdown"),
        max(col("peak")).as("peak_level"))
      .orderBy(col("l_suppkey"))
  }

  val q70Sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R'
      |      THEN -CAST(l_quantity AS BIGINT)
      |      ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_suppkey, d,
      |    SUM(delta) OVER (PARTITION BY l_suppkey ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM daily),
      |p AS (
      |  SELECT l_suppkey, cum,
      |    MAX(cum) OVER (PARTITION BY l_suppkey ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM c)
      |SELECT l_suppkey, COUNT(*) AS n_days,
      |  CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown,
      |  CAST(MAX(peak) AS BIGINT) AS peak_level
      |FROM p GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** q71: EXACT median + MAD at scale, via value histograms — the
    * distributed answer to q16/q63's exact `percentile`, whose
    * aggregation buffer holds every value of a group in ONE task (3
    * return flags ⇒ 3 tasks swallow the corpus; the reason q47's
    * sketch exists). Integer cent values have a bounded DISTINCT
    * domain, so the histogram form is exact AND partial-aggregable:
    * one (group, value) count shuffle, a cumulative window over the
    * distinct-value relation (domain-bounded, key-partitioned), and
    * the two middle ranks read off the prefix sums. The MAD pass
    * repeats the trick on |2·value − 2·median| — still pure int64;
    * the only doubles are the final /2.0 and /4.0 (exact halves and
    * quarters). Medians relation is |group| rows — adjudicated
    * broadcast. */
  def q71MedianHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
    // NOTE (r16): a d46/d100-style bin-parallel two-level rewrite of
    // this running count (256 range bins + offset join, windows over
    // (flag, bin)) was tried and REVERTED — bit-identical cum values
    // but 2× slower at bench scale on a same-host A/B (7.9-8.0 s vs
    // 3.8-4.5 s at sf0.1): the extra hist passes and offset joins
    // cost more than the 3-partition window saves locally. At true
    // 100 TB per-group row counts the two-level form is the right
    // shape — q74/d100 carry it where the histogram is corpus-wide.
    def medianRanks(values: DataFrame, valueCol: String): DataFrame = {
      val wCum = Window.partitionBy(col("l_returnflag"))
        .orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("l_returnflag"))
      values.groupBy(col("l_returnflag"), col(valueCol))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          (expr(s"min(CASE WHEN cum >= (n + 1) div 2 THEN $valueCol END)")
            + expr(s"min(CASE WHEN cum >= (n + 2) div 2 THEN $valueCol END)"))
            .as("sum2"))
    }
    // med (|l_returnflag| rows) feeds BOTH the deviation pass and the
    // final report join — without truncation each consumer re-executes
    // the full value-histogram + two-window median chain over lineitem
    // (r16 plan audit: 6 scans / 12 windows in the initial plan).
    // One eager checkpoint of the 3-row relation halves the lineitem
    // passes (guide §3.3); same rows, oracle unchanged.
    val med = Pins.checkpoint(medianRanks(li, "pc")
      .select(col("l_returnflag"), col("n"), col("sum2").as("med2")))
    val dev = li.join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        abs(lit(2L) * col("pc") - col("med2")).as("dev2"))
    val mad = medianRanks(dev, "dev2")
      .select(col("l_returnflag"), col("sum2").as("mad4"))
    med.join(mad, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        (col("med2") / lit(2.0)).as("median_c"),
        (col("mad4") / lit(4.0)).as("mad_c"))
      .orderBy(col("l_returnflag"))
  }

  val q71Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS f,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
      |  FROM lineitem),
      |c1 AS (SELECT f, pc, COUNT(*) AS c FROM li GROUP BY 1, 2),
      |cum1 AS (
      |  SELECT f, pc,
      |    SUM(c) OVER (PARTITION BY f ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY f) AS n
      |  FROM c1),
      |m AS (
      |  SELECT f, CAST(MAX(n) AS BIGINT) AS n,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN pc END)
      |      + MIN(CASE WHEN cum >= (n + 2) // 2 THEN pc END) AS med2
      |  FROM cum1 GROUP BY 1),
      |d AS (
      |  SELECT li.f, ABS(2 * li.pc - m.med2) AS dev2
      |  FROM li JOIN m ON li.f = m.f),
      |c2 AS (SELECT f, dev2, COUNT(*) AS c FROM d GROUP BY 1, 2),
      |cum2 AS (
      |  SELECT f, dev2,
      |    SUM(c) OVER (PARTITION BY f ORDER BY dev2
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY f) AS n
      |  FROM c2),
      |md AS (
      |  SELECT f,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev2 END)
      |      + MIN(CASE WHEN cum >= (n + 2) // 2 THEN dev2 END) AS mad4
      |  FROM cum2 GROUP BY 1)
      |SELECT m.f AS l_returnflag, m.n, m.med2 / 2.0 AS median_c,
      |  md.mad4 / 4.0 AS mad_c
      |FROM m JOIN md ON md.f = m.f ORDER BY 1""".stripMargin

  /** q72: event-transition matrix — which event type follows which,
    * per user session stream (the Markov-chain input behind "users
    * who do X next do Y", distinct from q51's fixed-stage funnel):
    * one lead() window per user (total order via the event-id
    * tiebreak — ts alone repeats), then a partial-aggregable count
    * per (from, to) pair and the within-from share over the bounded
    * type-pair relation (|types|² rows, partitioned window). */
  def q72Transitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("from_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pairs
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(wFrom), 6)
          + lit(0.0))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q72Sql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  ROUND(CAST(n AS DOUBLE)
      |    / SUM(n) OVER (PARTITION BY from_type), 6) + 0.0 AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** q73 band half-width: |Δbalance| ≤ $25.00, in exact cents. */
  val BandEps = 2500L

  /** q73: epsilon band join (fuzzy reconciliation) — match every
    * customer to suppliers whose balance lies within ±ε, the
    * "find the counterpart entry that's a rounding error away" join
    * every reconciliation system runs. A theta join |a−b| ≤ ε is a
    * cross product to a naive planner; the scale shape buckets both
    * sides into ε-width cells (shifted so negative balances can't
    * straddle the truncation boundary) and fans each probe to 3
    * neighbor cells — candidates are an equi-join, the exact band
    * predicate prunes the few stragglers. The oracle states the
    * predicate directly (DuckDB's IEJoin handles it); bucketing is
    * provably lossless at cell = ε. */
  def q73BandJoin(spark: SparkSession, dir: String): DataFrame = {
    val eps = BandEps
    val shift = 10000000L
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"),
        (round(col("c_acctbal") * 100, 0).cast("long") + shift)
          .as("cb"))
    val s = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"),
        (round(col("s_acctbal") * 100, 0).cast("long") + shift)
          .as("sb"))
      .withColumn("bkt", expr(s"sb div $eps"))
    c.withColumn("bkt",
        explode(array(expr(s"cb div $eps - 1"), expr(s"cb div $eps"),
          expr(s"cb div $eps + 1"))))
      .join(s.hint("shuffle_hash"), Seq("bkt"))
      .filter(abs(col("cb") - col("sb")) <= eps)
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_matches"),
        min(abs(col("cb") - col("sb"))).as("min_diff_cents"))
      .orderBy(col("c_custkey"))
  }

  val q73Sql: String =
    s"""WITH cb AS (
       |  SELECT c_custkey,
       |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS b
       |  FROM customer),
       |sb AS (
       |  SELECT s_suppkey,
       |    CAST(ROUND(s_acctbal * 100) AS BIGINT) AS b
       |  FROM supplier)
       |SELECT c_custkey, COUNT(*) AS n_matches,
       |  CAST(MIN(ABS(cb.b - sb.b)) AS BIGINT) AS min_diff_cents
       |FROM cb JOIN sb
       |  ON cb.b BETWEEN sb.b - $BandEps AND sb.b + $BandEps
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** q74: exact percentile BANDS at scale — q71's value-histogram
    * method generalized to the (p25, p50, p90) report q16 computes
    * with per-group buffers. Each percentile is a RATIONAL rank
    * r = 1 + (n−1)·k/m read off the prefix sums: lo rank by integer
    * division, the interpolation fraction (rem/m) exact by
    * construction — where Spark's own `percentile` computes
    * 0.9·(n−1) in binary floating point (0.9 has no exact double),
    * this form never rounds until the final interpolation. One
    * corpus shuffle, cum windows over the bounded distinct-value
    * domain, all ranks from the same pass. */
  def q74PercentileScale(spark: SparkSession, dir: String): DataFrame = {
    val cum = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
      .groupBy(col("l_returnflag"), col("pc"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("pc"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("l_returnflag"))))
    def pct(name: String, k: Int, m: Int) = Seq(
      expr(s"""min(CASE WHEN cum >= 1 + ((n - 1) * $k) div $m
           THEN pc END)""").as(s"${name}_lo"),
      expr(s"""min(CASE WHEN cum >= 1 + ((n - 1) * $k) div $m
           + (CASE WHEN ((n - 1) * $k) % $m > 0 THEN 1 ELSE 0 END)
           THEN pc END)""").as(s"${name}_hi"),
      expr(s"max(((n - 1) * $k) % $m)").as(s"${name}_rem"))
    val aggs = Seq(max(col("n")).as("n")) ++
      pct("p25", 1, 4) ++ pct("p50", 1, 2) ++ pct("p90", 9, 10)
    def interp(name: String, m: Int) =
      (col(s"${name}_lo") +
        (col(s"${name}_rem").cast("double") / m) *
          (col(s"${name}_hi") - col(s"${name}_lo")) + lit(0.0))
        .as(s"${name}_cents")
    cum.groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag"), col("n"),
        interp("p25", 4), interp("p50", 2), interp("p90", 10))
      .orderBy(col("l_returnflag"))
  }

  val q74Sql: String = {
    def pctSql(name: String, k: Int, m: Int) =
      s"""MIN(CASE WHEN cum >= 1 + ((n - 1) * $k) // $m
         |    THEN pc END) AS ${name}_lo,
         |  MIN(CASE WHEN cum >= 1 + ((n - 1) * $k) // $m
         |    + (CASE WHEN ((n - 1) * $k) % $m > 0 THEN 1 ELSE 0 END)
         |    THEN pc END) AS ${name}_hi,
         |  MAX(((n - 1) * $k) % $m) AS ${name}_rem""".stripMargin
    def interpSql(name: String, m: Int) =
      s"${name}_lo + (CAST(${name}_rem AS DOUBLE) / $m) " +
        s"* (${name}_hi - ${name}_lo) + 0.0 AS ${name}_cents"
    s"""WITH h AS (
       |  SELECT l_returnflag AS f,
       |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
       |    COUNT(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT f, pc,
       |    SUM(c) OVER (PARTITION BY f ORDER BY pc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER (PARTITION BY f) AS n
       |  FROM h),
       |r AS (
       |  SELECT f, CAST(MAX(n) AS BIGINT) AS n,
       |  ${pctSql("p25", 1, 4)},
       |  ${pctSql("p50", 1, 2)},
       |  ${pctSql("p90", 9, 10)}
       |  FROM cum GROUP BY f)
       |SELECT f AS l_returnflag, n,
       |  ${interpSql("p25", 4)},
       |  ${interpSql("p50", 2)},
       |  ${interpSql("p90", 10)}
       |FROM r ORDER BY f""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q66_pareto", q66Pareto, q66Sql),
    Op("q67_yoy", q67Yoy, q67Sql),
    Op("q68_cum_distinct", q68CumDistinct, q68Sql),
    Op("q69_basket_pairs", q69BasketPairs, q69Sql),
    Op("q70_drawdown", q70Drawdown, q70Sql),
    Op("q71_median_histogram", q71MedianHistogram, q71Sql),
    Op("q72_transitions", q72Transitions, q72Sql),
    Op("q73_band_join", q73BandJoin, q73Sql),
    Op("q74_percentiles_scale", q74PercentileScale, q74Sql))
}
