package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Fourth tranche of the relational surface (SURVEY.md §2a):
  * interval concurrency, gaps-and-islands, ordered string
  * aggregation, robust statistics. */
object Relational4 {

  /** q60: interval-overlap concurrency via the sweep-line identity —
    * "how many shipments are simultaneously in transit per supplier"
    * (resource-load analysis: the classic interval-stabbing question
    * answered WITHOUT an interval self-join, which would be
    * quadratic per key). Each interval contributes a +1 at its start
    * and a −1 past its end (end-exclusive); deltas aggregate per
    * (key, date) FIRST, so the running sum's window ordering is over
    * unique timestamps — deterministic on both engines with no
    * tiebreak gymnastics — and concurrency at date t is the prefix
    * sum. One key shuffle + one window; the transit duration is
    * synthesized deterministically (quantity % 30 + 1 days) so the
    * oracle replays it. */
  def q60Concurrency(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"),
        to_date(col("l_shipdate")).as("d0"),
        (col("l_quantity").cast("long") % 30 + 1).cast("int").as("dur"))
    val deltas = li.select(col("l_suppkey"), col("d0").as("d"),
        lit(1L).as("delta"))
      .unionAll(li.select(col("l_suppkey"),
        date_add(col("d0"), col("dur")).as("d"), lit(-1L).as("delta")))
    val net = deltas.groupBy(col("l_suppkey"), col("d"))
      .agg(sum(col("delta")).as("net"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net.withColumn("running", sum(col("net")).over(w))
      .groupBy(col("l_suppkey"))
      .agg(max(col("running")).cast("long").as("max_concurrent"),
        count(lit(1)).as("n_change_points"))
      .orderBy(col("l_suppkey"))
  }

  val q60Sql: String =
    """WITH iv AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d0,
      |    CAST(CAST(l_quantity AS BIGINT) % 30 + 1 AS INTEGER) AS dur
      |  FROM lineitem),
      |deltas AS (
      |  SELECT l_suppkey, d0 AS d, CAST(1 AS BIGINT) AS delta FROM iv
      |  UNION ALL
      |  SELECT l_suppkey, d0 + dur, -1 FROM iv),
      |net AS (
      |  SELECT l_suppkey, d, SUM(delta) AS net
      |  FROM deltas GROUP BY 1, 2),
      |run AS (
      |  SELECT l_suppkey, SUM(net) OVER (PARTITION BY l_suppkey
      |    ORDER BY d ROWS UNBOUNDED PRECEDING) AS running
      |  FROM net)
      |SELECT l_suppkey, CAST(MAX(running) AS BIGINT) AS max_concurrent,
      |  COUNT(*) AS n_change_points
      |FROM run GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** Orders more than [[IslandGap]] days apart start a new island. */
  val IslandGap = 7

  /** q61: gaps-and-islands — segment each customer's order history
    * into bursts of activity separated by >[[IslandGap]]-day gaps
    * (the canonical SQL-idiom for session/streak detection over
    * irregular time series; the engagement-analysis sibling of s02's
    * event sessionization). Distinct order dates first (burst
    * membership is date-level), then the island id is the running
    * count of gap flags — lag + one prefix sum, two windows on the
    * SAME key partitioning so Catalyst plans one exchange. Output is
    * per-customer burst statistics (bounded rows). */
  def q61Islands(spark: SparkSession, dir: String): DataFrame = {
    val dates = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
      .distinct()
    val wLag = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
    val wRun = wLag.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val islands = dates
      .withColumn("gap",
        when(datediff(col("d"), lag(col("d"), 1).over(wLag))
          > IslandGap, 1L).otherwise(0L))
      .withColumn("island", sum(col("gap")).over(wRun))
      .groupBy(col("o_custkey"), col("island"))
      .agg(count(lit(1)).as("len"),
        datediff(max(col("d")), min(col("d"))).cast("long").as("span"))
    islands.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_islands"),
        max(col("len")).as("max_len"),
        max(col("span")).as("max_span_days"))
      .orderBy(col("o_custkey"))
  }

  val q61Sql: String =
    s"""WITH dates AS (
       |  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
       |  FROM orders),
       |flagged AS (
       |  SELECT o_custkey, d,
       |    CASE WHEN d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d)
       |      > $IslandGap THEN 1 ELSE 0 END AS gap
       |  FROM dates),
       |isl AS (
       |  SELECT o_custkey, d, SUM(gap) OVER (PARTITION BY o_custkey
       |    ORDER BY d ROWS UNBOUNDED PRECEDING) AS island
       |  FROM flagged),
       |grp AS (
       |  SELECT o_custkey, island, COUNT(*) AS len,
       |    CAST(MAX(d) - MIN(d) AS BIGINT) AS span
       |  FROM isl GROUP BY 1, 2)
       |SELECT o_custkey, COUNT(*) AS n_islands,
       |  CAST(MAX(len) AS BIGINT) AS max_len,
       |  MAX(span) AS max_span_days
       |FROM grp GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Suppliers listed per nation in q62. */
  val TopSuppliers = 3

  /** q62: ordered string aggregation (LISTAGG) — the report-surface
    * staple: per nation, the top-[[TopSuppliers]] suppliers by
    * balance as one ordered CSV cell. The Spark form builds it from
    * partial-aggregable pieces (collect_list of a sort-key struct →
    * sort_array → slice → array_join), so the aggregation combines
    * map-side like any other — there is no "ordered aggregate
    * buffer" bottleneck, and ties break on the full struct
    * (balance desc via negated cents, then name). */
  def q62ListAgg(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_nationkey"),
        (-round(col("s_acctbal") * 100, 0).cast("long")).as("negbal"),
        col("s_name"))
    sup.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(
          slice(
            transform(
              sort_array(collect_list(struct(col("negbal"),
                col("s_name")))),
              x => x.getField("s_name")),
            1, TopSuppliers),
          ",").as("top_suppliers"))
      .orderBy(col("s_nationkey"))
  }

  val q62Sql: String =
    s"""WITH ranked AS (
       |  SELECT s_nationkey, s_name,
       |    -CAST(ROUND(s_acctbal * 100) AS BIGINT) AS negbal,
       |    ROW_NUMBER() OVER (PARTITION BY s_nationkey
       |      ORDER BY -CAST(ROUND(s_acctbal * 100) AS BIGINT), s_name)
       |      AS rn
       |  FROM supplier),
       |tot AS (
       |  SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier
       |  GROUP BY 1)
       |SELECT t.s_nationkey, t.n_suppliers,
       |  (SELECT string_agg(s_name, ',' ORDER BY negbal, s_name)
       |   FROM ranked r
       |   WHERE r.s_nationkey = t.s_nationkey AND r.rn <= $TopSuppliers)
       |    AS top_suppliers
       |FROM tot t ORDER BY t.s_nationkey""".stripMargin

  /** q63: robust statistics — per-group median and MAD (median
    * absolute deviation), the outlier-resistant spread measure
    * quality gates use where stddev would be dragged by tails. Two
    * passes over the same grouping key: exact interpolated median
    * (the q16 percentile contract), broadcast the bounded per-group
    * medians back, then the median of absolute deviations. Values
    * ride as exact cents so the interpolation arithmetic is
    * identical on both engines. */
  def q63RobustStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(pc, 0.5)").as("med"))
    li.join(broadcast(med), Seq("l_returnflag"))
      .withColumn("dev", abs(col("pc").cast("double") - col("med")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("median_c"),
        expr("percentile(dev, 0.5)").as("mad_c"))
      .orderBy(col("l_returnflag"))
  }

  val q63Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
      |  FROM lineitem),
      |med AS (
      |  SELECT l_returnflag, quantile_cont(pc, 0.5) AS med
      |  FROM li GROUP BY 1)
      |SELECT li.l_returnflag, COUNT(*) AS n,
      |  ANY_VALUE(med.med) AS median_c,
      |  quantile_cont(ABS(CAST(pc AS DOUBLE) - med.med), 0.5) AS mad_c
      |FROM li JOIN med USING (l_returnflag)
      |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q60_concurrency", q60Concurrency, q60Sql),
    Op("q61_islands", q61Islands, q61Sql),
    Op("q62_listagg", q62ListAgg, q62Sql),
    Op("q63_robust_stats", q63RobustStats, q63Sql))
}
