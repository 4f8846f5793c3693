package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Invariant, Op, Tables}

/** The relational engine surface (SURVEY.md §2a).
  *
  * map2db drives sqlite row-at-a-time (map2db.py:747-812); at scale the
  * same semantics are declarative DataFrame plans: hash aggregates with
  * map-side partial aggregation, broadcast joins for dims, window
  * functions, semi/anti joins. Every query here is Catalyst-optimized
  * (pushdown + pruning reach the parquet scan) and has a DuckDB oracle.
  *
  * Float determinism: double aggregation is order-dependent, and Spark
  * and DuckDB would disagree in the last ULP. Every SUM/AVG over a
  * double column goes through DECIMAL(18,4) (exact integer arithmetic,
  * associative, engine-independent) and is cast back to double at the
  * end — bit-identical results on both engines, still codegen'd.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Exact, order-independent sum of a double column (see above). */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  private def sqlDsum(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"

  /** q01: TPC-H Q1-style pricing summary — multi-key, multi-agg hash
    * aggregate. Partial aggregation makes this a single shuffle of
    * (flag,status) groups regardless of input size. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val one = lit(1).cast(DecimalType(18, 4))
    li.filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // the product sums carry scale 8 but their fractions only use
        // 4 (price×disc) / 6 (×tax) decimals — narrowing the scale is
        // EXACT and keeps the raw integer below 2^53, where the
        // decimal→double conversion is identical on every engine
        // (at scale 8 the conversion differs by 1 ULP between Spark
        // and DuckDB once sums pass ~9e7)
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast(DecimalType(38, 4)).cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
          * (one + dec(col("l_tax")))).cast(DecimalType(38, 6))
          .cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
       |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
       |  ${sqlDsum("l_quantity")} / COUNT(*) AS avg_qty,
       |  ${sqlDsum("l_extendedprice")} / COUNT(*) AS avg_price,
       |  ${sqlDsum("l_discount")} / COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: filter + project — both must reach the parquet scan
    * (PushedFilters / ReadSchema in .explain). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate").cast("date") >= lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"),
        col("l_shipdate").cast("date").cast("string").as("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date
      |FROM lineitem
      |WHERE l_quantity > 45 AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q03: revenue by market segment — two joins. customer and orders
    * are dims relative to lineitem; customer is explicitly broadcast
    * (at 100 TB the fact side never shuffles for a broadcastable dim). */
  def q03JoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val one = lit(1).cast(DecimalType(18, 4))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_mktsegment"))
  }

  val q03Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q04: four-way join through the dim chain region→nation→customer→
    * orders; Catalyst join-reorder + AQE pick the plan, small dims
    * broadcast automatically (autoBroadcastJoinThreshold). */
  def q04MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(spark, dir, "region")
    val nation = Tables.load(spark, dir, "nation")
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q04Sql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  /** q05: top-k by aggregate — Spark plans orderBy+limit as
    * TakeOrderedAndProject (per-partition top-k, no full sort). */
  def q05TopkRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val one = lit(1).cast(DecimalType(18, 4))
    li.groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q05Sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** q06: window functions — first 3 shipments per supplier. The
    * partition key (l_suppkey) is the shuffle key; ordering inside the
    * window is fully deterministic (orderkey,linenumber unique). */
  def q06WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    // (l_orderkey, l_linenumber) repeats in this data — the window
    // order must be total for a deterministic row_number.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_extendedprice"))
    // project before the window so the sort buffers carry only the
    // needed columns (the scan then prunes the rest too)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_extendedprice"), col("l_shipdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").cast("string").as("ship_date"),
        col("rn"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  val q06Sql: String =
    """SELECT * FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
      |        l_extendedprice) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3
      |ORDER BY l_suppkey, rn""".stripMargin

  /** q07: distinct aggregation — exact COUNT(DISTINCT) per group
    * (expand + two-phase agg under the hood). */
  def q07Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))

  val q07Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q08: anti join — parts never shipped in bulk (NOT EXISTS against
    * a filtered fact). The filter is applied before the join so the
    * anti side shrinks at the scan; a broadcast-able anti join at any
    * scale if the right side's distinct keys fit, else shuffled
    * left-anti. */
  def q08AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val bulk = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 49).select(col("l_partkey"))
    part.join(bulk, part("p_partkey") === bulk("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }

  val q08Sql: String =
    """SELECT p_partkey, p_name, p_brand
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_partkey = p_partkey AND l_quantity >= 49)
      |ORDER BY p_partkey""".stripMargin

  /** q09: conditional aggregation (CASE pivot) — one pass, no joins. */
  def q09ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    def flagSum(flag: String, name: String): Column =
      sum(when(col("l_returnflag") === flag, dec(col("l_extendedprice")))
        .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double").as(name)
    li.groupBy(col("l_linestatus"))
      .agg(flagSum("R", "returned_price"), flagSum("A", "ack_price"),
        flagSum("N", "none_price"),
        count(when(col("l_returnflag") === "R", lit(1))).as("n_returned"))
      .orderBy(col("l_linestatus"))
  }

  val q09Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS returned_price,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS ack_price,
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS none_price,
      |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** q10: union + merge-by-key — the relational skeleton of map2db's
    * "same feature arrives from several tiles → merge into one row"
    * (map2db.py:104-108): UNION ALL the per-partition fragments, then
    * one groupBy(key) merge. */
  def q10UnionMerge(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val hi = li.filter(col("l_quantity") >= 40)
      .select(col("l_partkey"), col("l_quantity"))
    val lo = li.filter(col("l_quantity") <= 5)
      .select(col("l_partkey"), col("l_quantity"))
    hi.unionByName(lo)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_fragments"),
        dsum(col("l_quantity")).as("merged_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_partkey"))
  }

  val q10Sql: String =
    s"""SELECT l_partkey, COUNT(*) AS n_fragments,
       |  ${sqlDsum("l_quantity")} AS merged_qty,
       |  MAX(l_quantity) AS max_qty
       |FROM (
       |  SELECT l_partkey, l_quantity FROM lineitem WHERE l_quantity >= 40
       |  UNION ALL
       |  SELECT l_partkey, l_quantity FROM lineitem WHERE l_quantity <= 5)
       |GROUP BY l_partkey
       |ORDER BY l_partkey""".stripMargin

  /** q11: JSON extraction — map2db stores fixed tags as a JSON array
    * column (m2db_tags, map2db.py:872-875); the engine-side equivalent
    * is JSON path extraction, codegen'd via get_json_object. */
  def q11JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q11Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q12: approximate distinct (HLL++) — the scale path for distinct
    * counting; no exact SQL oracle, so [[q12Check]] bounds its error. */
  def q12ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // rsd 0.02: 4× smaller HLL sketches than 0.01 for the same
      // order-of-magnitude answer — the merge cost of the partial
      // sketches is the whole query at scale.
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** q12's check: each sketch within 3 × rsd of q07's exact count. */
  val q12Check: Invariant = Invariant("within 3 rsd of count(DISTINCT)",
    (spark, dir, res) => {
      def near(c: String, e: String) =
        abs(col(c) - col(e)) <= col(e) * (3 * 0.02)
      Invariant.failures(
        res.join(q07Distinct(spark, dir), Seq("l_returnflag"), "full"),
        near("approx_parts", "n_parts") && near("approx_orders", "n_orders"))
    })

  /** q13: backward as-of join — each purchase matched to the same
    * user's most recent view at-or-before it. Views pre-deduped per
    * (user, ts) so exact-tie winners are well-defined on both sides
    * of the oracle. */
  def q13AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    AsOf.asofJoin(purchases, views, "user_id", "ts", "ts")
      .filter(col("r_view_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("r_view_id").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("r_ts"))).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val q13Sql: String =
    """WITH views AS (
      |  SELECT user_id, ts, MAX(event_id) AS view_id FROM events
      |  WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, v.view_id AS view_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM p ASOF JOIN views v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** q52: tolerance-bounded as-of join — the sensor-staleness
    * contract: a match older than the tolerance is WORSE than no
    * match (a feature pipeline must not silently join hour-old
    * prices onto a trade). Same single-key-shuffle as-of plan as
    * q13; the staleness bound is a post-fill projection, so the
    * tolerance costs nothing extra. Matched rows keep their gap,
    * stale rows survive with a NULL match (outer semantics). */
  val AsofToleranceUs: Long = 30L * 60 * 1000000 // 30 minutes

  def q52AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    AsOf.asofJoin(purchases, views, "user_id", "ts", "ts")
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("r_ts")))
      .withColumn("fresh",
        col("r_view_id").isNotNull && col("gap_us") <= AsofToleranceUs)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("fresh"), col("r_view_id")).as("view_id"),
        when(col("fresh"), col("gap_us")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val q52Sql: String =
    s"""WITH views AS (
       |  SELECT user_id, ts, MAX(event_id) AS view_id FROM events
       |  WHERE event_type = 'view' GROUP BY 1, 2),
       |p AS (
       |  SELECT user_id, ts, event_id FROM events
       |  WHERE event_type = 'purchase'),
       |m AS (
       |  SELECT p.event_id AS purchase_id, p.user_id,
       |    v.view_id, epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
       |  FROM p ASOF LEFT JOIN views v
       |    ON p.user_id = v.user_id AND v.ts <= p.ts)
       |SELECT purchase_id, user_id,
       |  CASE WHEN gap_us <= $AsofToleranceUs THEN view_id END
       |    AS view_id,
       |  CASE WHEN gap_us <= $AsofToleranceUs THEN gap_us END
       |    AS gap_us
       |FROM m ORDER BY purchase_id""".stripMargin

  /** q59: FORWARD as-of join — each view takes its user's next
    * purchase at-or-after it (conversion lead time), the
    * delivery-promise mirror of q13's backward fill. Same
    * single-key-shuffle plan ([[AsOf.asofJoinForward]]); purchases
    * pre-dedup per (user, ts) on max event_id so equal-timestamp
    * winners match DuckDB's ASOF tie contract. */
  def q59AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("purchase_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    AsOf.asofJoinForward(views, purchases, "user_id", "ts", "ts")
      .filter(col("r_purchase_id").isNotNull)
      .select(col("event_id").as("view_id"), col("user_id"),
        col("r_purchase_id").as("purchase_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("ts")))
          .as("lead_us"))
      .orderBy(col("view_id"))
  }

  val q59Sql: String =
    """WITH p AS (
      |  SELECT user_id, ts, MAX(event_id) AS purchase_id FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |v AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'view')
      |SELECT v.event_id AS view_id, v.user_id,
      |  p.purchase_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS lead_us
      |FROM v ASOF JOIN p
      |  ON v.user_id = p.user_id AND p.ts >= v.ts
      |ORDER BY view_id""".stripMargin

  /** q14: point-in-interval range join — events binned into
    * variable-width (quadratic) value bands. Bucketed equi-join under
    * the hood (RangeJoin), so no nested-loop join appears even though
    * the predicate is a range. */
  def q14RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("value"))
    val bands = spark.range(0, 23).select(col("id").as("band_id"),
      (col("id") * col("id")).cast("double").as("lo"),
      ((col("id") + 1) * (col("id") + 1)).cast("double").as("hi"))
    RangeJoin.pointInInterval(e, "value", bands, "lo", "hi",
        bucketWidth = 25.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy(col("band_id"))
  }

  val q14Sql: String =
    s"""WITH bands AS (
       |  SELECT i AS band_id, CAST(i*i AS DOUBLE) AS lo,
       |    CAST((i+1)*(i+1) AS DOUBLE) AS hi
       |  FROM range(0, 23) t(i))
       |SELECT band_id, COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events JOIN bands ON lo <= value AND value < hi
       |GROUP BY band_id
       |ORDER BY band_id""".stripMargin

  /** q16: exact interpolated percentiles per group — the linear-
    * interpolation definition both engines implement, so the oracle
    * is exact.
    *
    * GROUP-SIZE CONTRACT (the d49 candidate-volume discipline): the
    * exact `percentile` aggregate buffers EVERY value of a group in
    * ONE task's aggregation buffer, so q16 is only admissible when
    * max group rows ≤ [[Q16MaxGroupRows]] (~8 bytes/value → ≤ ~1 GiB
    * of buffer against multi-GiB executor heaps). Above the bound,
    * pick by need: q47's mergeable `approx_percentile` sketch
    * (bounded state, rank-error n/10000) or q71/q74's value-histogram
    * exact path (bounded when the DOMAIN is gridded, any n).
    * RelationalSpec asserts this corpus is inside the bound — the
    * same pre-flight a production caller runs. */
  def q16Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
      .orderBy(col("l_returnflag"))

  /** q16's admission bound: max rows one group may hold before the
    * single-task percentile buffer becomes the failure mode (~1 GiB
    * of 8-byte values; see the q16 contract Scaladoc). */
  val Q16MaxGroupRows = 128L * 1000 * 1000

  val q16Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_extendedprice, 0.25) AS p25_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q47: sketch quantiles per group — the 100 TB percentile path
    * q16's Scaladoc promises. `approx_percentile` keeps a bounded
    * quantile sketch per group that partial-aggregates map-side and
    * merges across partitions, where exact `percentile` buffers every
    * value of a group in one aggregator. Accuracy 10000 bounds rank
    * error at n/10000, which [[q47Check]] holds it to (sketch
    * internals are engine-specific, so no SQL oracle). Scalar output
    * columns only — the round-3 array
    * form (`approx_percentile(x, array(...))`) crashed the driver's
    * result hashing, which can't sort array cells. */
  def q47ApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5D, 10000)").as("p50_qty"),
        expr("approx_percentile(l_quantity, 0.9D, 10000)").as("p90_qty"),
        expr("approx_percentile(l_extendedprice, 0.25D, 10000)")
          .as("p25_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** q47's check: `n` is the exact row count, and each percentile is a
    * value of its column whose rank is within n/10000 (the sketch's
    * accuracy) of the target rank ceil(p·n). */
  val q47Check: Invariant = Invariant("observed values at ranks within " +
    "n/10000 of the target", (spark, dir, res) => {
      val pcts = Seq(("p50_qty", "l_quantity", 0.5),
        ("p90_qty", "l_quantity", 0.9), ("p25_price", "l_extendedprice", 0.25))
      // per percentile: rows below it (lt) and at or below it (le)
      val ranks = pcts.flatMap { case (p, c, _) => Seq(
        sum(when(col(c) < col(p), 1L).otherwise(0L)).as(s"${p}_lt"),
        sum(when(col(c) <= col(p), 1L).otherwise(0L)).as(s"${p}_le")) }
      val per = Tables.load(spark, dir, "lineitem")
        .join(res, Seq("l_returnflag"), "full")
        .groupBy(col("l_returnflag"), col("n"))
        .agg(count(col("l_orderkey")).as("exact_n"), ranks: _*)
      val tol = col("exact_n") / 10000.0
      Invariant.failures(per, pcts.map { case (p, _, q) =>
        val target = ceil(col("exact_n") * q)
        col(s"${p}_lt") + 1 <= target + tol &&
          col(s"${p}_le") >= target - tol &&
          col(s"${p}_le") > col(s"${p}_lt")
      }.reduce(_ && _) && col("n") === col("exact_n"))
    })

  /** q17: ROLLUP grouping sets — subtotals at (region, nation),
    * (region), and grand total in one Expand pass (no re-scan per
    * grouping level). */
  def q17Rollup(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    val cust = Tables.load(spark, dir, "customer")
    cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q17Sql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
       |  ${sqlDsum("c_acctbal")} AS total_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** q18: pivot — one row per ship mode, one column per return flag.
    * Spark's pivot with explicit values compiles to conditional
    * aggregates (single pass, no per-column scan). */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .toDF("l_linestatus", "a_cnt", "n_cnt", "r_cnt")
      .orderBy(col("l_linestatus"))

  val q18Sql: String =
    """SELECT l_linestatus,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'A') AS a_cnt,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'N') AS n_cnt,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS r_cnt
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** q19: set operators — customers with orders in 1995 INTERSECT
    * customers with orders in 1996, EXCEPT ones with any 1997 order. */
  def q19SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    def custsIn(year: Int) = ord
      .filter(year_(col("o_orderdate").cast("date")) === year)
      .select(col("o_custkey"))
    custsIn(1995).intersect(custsIn(1996)).except(custsIn(1997))
      .orderBy(col("o_custkey"))
  }
  private def year_(c: Column): Column = year(c)

  val q19Sql: String =
    """SELECT o_custkey FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1995
      |INTERSECT
      |SELECT o_custkey FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1996
      |EXCEPT
      |SELECT o_custkey FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1997
      |ORDER BY o_custkey""".stripMargin

  /** q20: lag/lead — inter-event gap per user, next event type. One
    * window sort per user partition serves both offsets. */
  def q20LagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("gap_us"),
        col("next_type"))
      .orderBy(col("event_id"))
  }

  val q20Sql: String =
    """SELECT event_id, user_id,
      |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
      |  lead(event_type, 1) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** All §2a queries keyed as in SURVEY.md. */
  val ops: Seq[Op] = Seq(
    Op("q01_pricing_summary", q01PricingSummary, q01Sql),
    Op("q02_filter_project", q02FilterProject, q02Sql),
    Op("q03_join_broadcast", q03JoinBroadcast, q03Sql),
    Op("q04_multi_join", q04MultiJoin, q04Sql),
    Op("q05_topk_revenue", q05TopkRevenue, q05Sql),
    Op("q06_window_rank", q06WindowRank, q06Sql),
    Op("q07_distinct", q07Distinct, q07Sql),
    Op("q08_anti_join", q08AntiJoin, q08Sql),
    Op("q09_conditional_agg", q09ConditionalAgg, q09Sql),
    Op("q10_union_merge", q10UnionMerge, q10Sql),
    Op("q11_json_props", q11JsonProps, q11Sql),
    Op("q12_approx_distinct", q12ApproxDistinct, q12Check),
    Op("q13_asof_join", q13AsofJoin, q13Sql),
    Op("q14_range_join", q14RangeJoin, q14Sql),
    Op("q48_gap_fill", AsOf.q48GapFill, AsOf.q48Sql),
    Op("q52_asof_tolerance", q52AsofTolerance, q52Sql),
    Op("q59_asof_forward", q59AsofForward, q59Sql),
    Op("q16_percentiles", q16Percentiles, q16Sql),
    Op("q47_approx_percentile", q47ApproxPercentile, q47Check),
    Op("q17_rollup", q17Rollup, q17Sql),
    Op("q18_pivot", q18Pivot, q18Sql),
    Op("q19_set_ops", q19SetOps, q19Sql),
    Op("q20_lag_lead", q20LagLead, q20Sql))
}
