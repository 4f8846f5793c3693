package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Op, Tables}

/** Second tranche of the relational engine surface (SURVEY.md §2a):
  * subquery decorrelation, grouping sets/cube, full outer joins,
  * window frames and rank ratios, string/regexp/date scalar surface,
  * explode, exact distributed moments, argmax — each Catalyst-planned
  * (single hash-agg or window shuffle, pushdown intact) with a DuckDB
  * oracle.
  *
  * Float discipline matches [[Relational]]: every double aggregation
  * routes through DECIMAL(18,4); derived statistics (variance, corr)
  * are computed as the SAME double expression over those exact sums on
  * both engines, so results are bit-identical.
  */
object Relational2 {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  private def sqlDsum(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE)"

  /** q21: correlated scalar subquery (parts above their type's mean
    * price), decorrelated the way Catalyst itself would: one agg on the
    * correlation key + an equi-join. One shuffle each side, then a
    * broadcast of the (tiny) per-type averages at scale. */
  def q21ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
    val avgByType = p.groupBy(col("p_type"))
      .agg((dsum(col("p_retailprice")) / count(lit(1))).as("avg_price"))
    p.join(broadcast(avgByType), "p_type")
      .filter(col("p_retailprice") > col("avg_price"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_above"),
        max(col("p_retailprice")).as("max_price"))
      .orderBy(col("p_type"))
  }

  val q21Sql: String =
    s"""WITH a AS (
       |  SELECT p_type,
       |    ${sqlDsum("p_retailprice")} / COUNT(*) AS avg_price
       |  FROM part GROUP BY p_type)
       |SELECT p.p_type, COUNT(*) AS n_above,
       |  MAX(p_retailprice) AS max_price
       |FROM part p JOIN a ON p.p_type = a.p_type
       |WHERE p_retailprice > avg_price
       |GROUP BY p.p_type ORDER BY p.p_type""".stripMargin

  /** q22: CUBE — all four (flag,status) grouping levels in one Expand
    * pass (no per-level re-scan of the fact table). */
  def q22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("flag"), col("status"))

  val q22Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       |  COALESCE(l_linestatus, 'ALL') AS status,
       |  GROUPING(l_returnflag, l_linestatus) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY gid, flag, status""".stripMargin

  /** q23: full outer join — per-nation customer vs supplier counts
    * over deliberately non-overlapping nation subsets, nulls
    * coalesced. Both sides pre-aggregate before the join, so the
    * outer join runs on one row per nation, not on the fact tables. */
  def q23FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_nationkey") % 2 === 0)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val s = Tables.load(spark, dir, "supplier")
      .filter(col("s_nationkey") % 3 === 0)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q23Sql: String =
    """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
      |      FROM customer WHERE c_nationkey % 2 = 0 GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
      |      FROM supplier WHERE s_nationkey % 3 = 0 GROUP BY 1) s
      |USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  /** q24: explicit window frames — a 4-row moving sum and the
    * partition-anchored first value, one window sort per customer
    * serving both frames. */
  def q24WindowFrames(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        sum(dec(col("o_totalprice")))
          .over(w.rowsBetween(-3, Window.currentRow))
          .cast("double").as("mv_sum"),
        first(col("o_orderkey"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("first_key"))
      .orderBy(col("o_orderkey"))
  }

  val q24Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS mv_sum,
      |  FIRST_VALUE(o_orderkey) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS first_key
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** q25: distribution ranks — ntile/percent_rank/cume_dist over a
    * unique (acctbal, custkey) ordering. The ratios are integer
    * divisions in double on both engines, hence bit-identical with no
    * rounding step. */
  def q25RankRatios(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("c_custkey"))
  }

  val q25Sql: String =
    """SELECT c_custkey, c_mktsegment,
      |  NTILE(4) OVER w AS quartile,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** q26: string scalar surface — case, substring, replace, pad,
    * concat, edit distance; all codegen'd built-ins, no UDF. */
  def q26StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("name10"),
        regexp_replace(col("p_brand"), lit("Brand#"), lit("B"))
          .as("brand_short"),
        lpad(col("p_size").cast("string"), 3, "0").as("size3"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        levenshtein(col("p_brand"), lit("Brand#33")).as("edit_dist"))
      .orderBy(col("p_partkey"))

  val q26Sql: String =
    """SELECT p_partkey,
      |  UPPER(SUBSTRING(p_name, 1, 10)) AS name10,
      |  REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
      |  LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size3,
      |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
      |  levenshtein(p_brand, 'Brand#33') AS edit_dist
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q27: regexp extraction — the tag-value parse pattern (map2db's
    * `=%i/%f` variable tags are this shape) as a grouped aggregate
    * over a regex capture. */
  def q27RegexpExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(col("c_mktsegment"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long")
          .as("cust_num"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cust_num")).as("sum_num"),
        max(col("cust_num")).as("max_num"))
      .orderBy(col("c_mktsegment"))

  val q27Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT))
      |    AS BIGINT) AS sum_num,
      |  MAX(CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT))
      |    AS max_num
      |FROM customer
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q28: date arithmetic surface — extraction, day/month offsets
    * (with end-of-month clamping), day differences; dates emitted as
    * strings per the oracle discipline. */
  def q28DateArith(spark: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate").cast("date")
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(d).as("y"), quarter(d).as("q"), month(d).as("m"),
        date_add(d, 30).cast("string").as("d30"),
        add_months(d, 3).cast("string").as("m3"),
        datediff(lit("1998-01-01").cast("date"), d).as("days_to_98"),
        last_day(d).cast("string").as("eom"))
      .orderBy(col("o_orderkey"))
  }

  val q28Sql: String =
    """SELECT o_orderkey,
      |  EXTRACT(YEAR FROM o_orderdate) AS y,
      |  EXTRACT(QUARTER FROM o_orderdate) AS q,
      |  EXTRACT(MONTH FROM o_orderdate) AS m,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS d30,
      |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
      |    AS VARCHAR) AS m3,
      |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
      |    AS days_to_98,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q29: explode / lateral unnest — token stream from a string
    * column to a grouped frequency table in one generate+agg plan. */
  def q29ExplodeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val q29Sql: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY word ORDER BY word""".stripMargin

  /** q30: exact distributed second moments — variance/stddev/corr
    * derived from DECIMAL sums (n, Σx, Σx², Σxy), so the one shuffle
    * carries four exact partials per group and the double math happens
    * once, identically, per engine. This is how fp statistics stay
    * deterministic across 1000 executors. */
  def q30ExactStats(spark: SparkSession, dir: String): DataFrame = {
    // Asymmetric operand widths: a DECIMAL(19,4) left operand forces
    // DuckDB onto its int128 multiply path (two DECIMAL(12,4)s it
    // multiplies in int64 and overflows at 1e18), while the
    // DECIMAL(32,8) product still sums exactly within 38 digits on
    // both engines.
    val qw = col("l_quantity").cast(DecimalType(19, 4))
    val q = col("l_quantity").cast(DecimalType(12, 4))
    val pw = col("l_extendedprice").cast(DecimalType(19, 4))
    val p = col("l_extendedprice").cast(DecimalType(12, 4))
    val agg = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(q).cast("double").as("sx"),
        sum(qw * q).cast("double").as("sxx"),
        sum(p).cast("double").as("sy"),
        sum(pw * p).cast("double").as("syy"),
        sum(qw * p).cast("double").as("sxy"))
    val n = col("n"); val sx = col("sx"); val sy = col("sy")
    // The exact sums exceed 2^53, so the decimal→double cast itself
    // is engine-dependent in the last ULP and the cancellation in the
    // moment formulas amplifies that; ROUND(·,8) leaves ~3 orders of
    // magnitude of margin over the observed 1e-11 drift.
    agg.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        round((col("sxx") * n - sx * sx) / (n * (n - 1.0)), 8)
          .as("var_qty"),
        round(sqrt((col("sxx") * n - sx * sx) / (n * (n - 1.0))), 8)
          .as("std_qty"),
        round((col("sxy") * n - sx * sy) /
          (sqrt(col("sxx") * n - sx * sx) *
            sqrt(col("syy") * n - sy * sy)), 8).as("corr_qp"))
      .orderBy(col("l_returnflag"))
  }

  val q30Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) *
      |             CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
      |      AS sy,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) *
      |             CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
      |      AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) *
      |             CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
      |      AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  ROUND((sxx * n - sx * sx) / (n * (n - 1.0)), 8) AS var_qty,
      |  ROUND(SQRT((sxx * n - sx * sx) / (n * (n - 1.0))), 8)
      |    AS std_qty,
      |  ROUND((sxy * n - sx * sy) /
      |    (SQRT(sxx * n - sx * sx) * SQRT(syy * n - sy * sy)), 8)
      |    AS corr_qp
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q31: deterministic mode — most frequent value per group with a
    * value-ascending tiebreak (engine mode() functions break ties
    * arbitrarily; this formulation is total). */
  def q31ModeTop(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("n_mode"))
      .orderBy(col("l_returnflag"))
  }

  val q31Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, l_quantity, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY cnt DESC, l_quantity ASC) AS rn
      |  FROM c)
      |SELECT l_returnflag, l_quantity AS mode_qty, cnt AS n_mode
      |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  /** q32: conditional distinct counts — distinct over a CASE
    * projection, the dedup-within-segment shape. */
  def q32DistinctCond(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(when(col("l_quantity") > 45, col("l_partkey")))
          .as("hi_parts"),
        countDistinct(when(col("l_discount") === 0.0, col("l_suppkey")))
          .as("nodisc_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q32Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT CASE WHEN l_quantity > 45 THEN l_partkey END)
      |    AS hi_parts,
      |  COUNT(DISTINCT CASE WHEN l_discount = 0.0 THEN l_suppkey END)
      |    AS nodisc_supps,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q33: explicit GROUPING SETS — per-flag and per-status subtotals
    * plus the grand total, one Expand pass. */
  def q33GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("sum_price"))
      .orderBy(col("gid"), col("flag"), col("status"))

  val q33Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       |  COALESCE(l_linestatus, 'ALL') AS status,
       |  GROUPING(l_returnflag, l_linestatus) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY gid, flag, status""".stripMargin

  /** q34: bitwise aggregates — exact integer folds (AND/OR/XOR), used
    * for flag-mask style rollups. */
  def q34BitwiseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("bit_and(l_partkey)").as("and_part"),
        expr("bit_or(l_suppkey)").as("or_supp"),
        expr("bit_xor(l_orderkey)").as("xor_order"))
      .orderBy(col("l_returnflag"))

  val q34Sql: String =
    """SELECT l_returnflag,
      |  bit_and(l_partkey) AS and_part,
      |  bit_or(l_suppkey) AS or_supp,
      |  bit_xor(l_orderkey) AS xor_order
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q35: sorted list aggregation — collect + in-memory sort per
    * group, emitted as a canonical string (the deterministic form of
    * array_agg). */
  def q35SortedListAgg(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("nations"), count(lit(1)).as("n_nations"))
      .orderBy(col("r_name"))
  }

  val q35Sql: String =
    """SELECT r_name,
      |  array_to_string(list(n_name ORDER BY n_name), ',') AS nations,
      |  COUNT(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** q36: argmax without a per-group sort — max over a (price, key)
    * struct gives the top order per priority in ONE hash aggregate
    * (partial-aggregable, so ≤1 struct per group per partition crosses
    * the shuffle; contrast the window row_number formulation which
    * sorts every group). */
  def q36Argmax(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey")))
        .as("best"))
      .select(col("o_orderpriority"),
        col("best.o_orderkey").as("best_order"),
        col("best.o_totalprice").as("best_price"))
      .orderBy(col("o_orderpriority"))

  val q36Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, o_orderkey AS best_order,
      |  o_totalprice AS best_price
      |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin

  /** q37: unpivot (wide→long melt) — the inverse of q18's pivot;
    * aggregate first (3 exact doubles per flag), then melt, so the
    * Expand runs on the tiny aggregated relation. */
  def q37Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("qty"),
        dsum(col("l_extendedprice")).as("price"),
        dsum(col("l_discount")).as("disc"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val q37Sql: String =
    s"""SELECT l_returnflag, metric, value FROM (
       |  UNPIVOT (
       |    SELECT l_returnflag,
       |      ${sqlDsum("l_quantity")} AS qty,
       |      ${sqlDsum("l_extendedprice")} AS price,
       |      ${sqlDsum("l_discount")} AS disc
       |    FROM lineitem GROUP BY l_returnflag)
       |  ON qty, price, disc INTO NAME metric VALUE value)
       |ORDER BY l_returnflag, metric""".stripMargin

  /** q38: null-safe equality join (<=>) — NULL keys match each other
    * instead of dropping out, the semantics feature-id merges need
    * when a key column is optional. */
  def q38NullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .select(when(col("c_nationkey") % 5 === 0, lit(null))
        .otherwise(col("c_nationkey")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_cust"))
    val s = Tables.load(spark, dir, "supplier")
      .select(when(col("s_nationkey") % 5 === 0, lit(null))
        .otherwise(col("s_nationkey")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_supp"))
    c.join(s, c("k") <=> s("k"))
      .select(coalesce(c("k"), lit(-1)).cast("long").as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q38Sql: String =
    """SELECT COALESCE(c.k, -1) AS nationkey, n_cust, n_supp
      |FROM (
      |  SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL
      |           ELSE c_nationkey END AS k, COUNT(*) AS n_cust
      |  FROM customer GROUP BY 1) c
      |JOIN (
      |  SELECT CASE WHEN s_nationkey % 5 = 0 THEN NULL
      |           ELSE s_nationkey END AS k, COUNT(*) AS n_supp
      |  FROM supplier GROUP BY 1) s
      |ON c.k IS NOT DISTINCT FROM s.k
      |ORDER BY nationkey""".stripMargin

  /** q39: try_cast — fault-tolerant parsing (the permissive-mode
    * counterpart of a cast that would abort the job on one bad row at
    * 100 TB): malformed values become NULLs and are counted, not
    * fatal. */
  def q39TryCast(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(col("c_mktsegment"),
        expr("try_cast(CASE WHEN c_custkey % 7 = 0 THEN c_name " +
          "ELSE CAST(c_custkey AS STRING) END AS BIGINT)").as("parsed"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        count(col("parsed")).as("n_parsed"),
        sum(col("parsed")).as("sum_parsed"))
      .orderBy(col("c_mktsegment"))

  val q39Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  COUNT(parsed) AS n_parsed,
      |  CAST(SUM(parsed) AS BIGINT) AS sum_parsed
      |FROM (
      |  SELECT c_mktsegment,
      |    TRY_CAST(CASE WHEN c_custkey % 7 = 0 THEN c_name
      |      ELSE CAST(c_custkey AS VARCHAR) END AS BIGINT) AS parsed
      |  FROM customer)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q40: RANGE window frames — value-based (not row-count) frames:
    * all orders within 100 keys back, however many rows that is. */
  def q40RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rangeBetween(-100, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_in_range"),
        sum(dec(col("o_totalprice"))).over(w).cast("double")
          .as("range_sum"))
      .orderBy(col("o_orderkey"))
  }

  val q40Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  COUNT(*) OVER w AS n_in_range,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |    AS range_sum
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** q41: several exact count-distincts in ONE aggregate — Catalyst
    * plans this with Expand (one replica of each row per distinct
    * set), so it stays a single pass + one shuffle rather than N
    * self-joined subqueries. */
  def q41MultiDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(countDistinct(col("l_partkey")).as("d_parts"),
        countDistinct(col("l_suppkey")).as("d_supps"),
        countDistinct(col("l_orderkey")).as("d_orders"),
        count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))

  val q41Sql: String =
    """SELECT l_linestatus,
      |  COUNT(DISTINCT l_partkey) AS d_parts,
      |  COUNT(DISTINCT l_suppkey) AS d_supps,
      |  COUNT(DISTINCT l_orderkey) AS d_orders,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** q44: bag-semantics set operators — INTERSECT ALL / EXCEPT ALL
    * keep duplicate multiplicity (q19 covers the set-semantics
    * forms). */
  def q44SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val hi = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 30).select(col("l_partkey"))
    val ret = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select(col("l_partkey"))
    val inter = hi.intersectAll(ret)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val exc = hi.exceptAll(ret)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    inter.unionByName(exc)
      .select(col("op"), col("l_partkey"), col("n"))
      .orderBy(col("op"), col("l_partkey"))
  }

  val q44Sql: String =
    """WITH hi AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 30),
      |ret AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      |i AS (
      |  SELECT 'intersect_all' AS op, l_partkey, COUNT(*) AS n
      |  FROM (SELECT l_partkey FROM hi INTERSECT ALL
      |        SELECT l_partkey FROM ret)
      |  GROUP BY 2),
      |e AS (
      |  SELECT 'except_all' AS op, l_partkey, COUNT(*) AS n
      |  FROM (SELECT l_partkey FROM hi EXCEPT ALL
      |        SELECT l_partkey FROM ret)
      |  GROUP BY 2)
      |SELECT op, l_partkey, n FROM i
      |UNION ALL SELECT op, l_partkey, n FROM e
      |ORDER BY op, l_partkey""".stripMargin

  /** q46: keyset-free pagination — OFFSET/LIMIT over a total order
    * (page 3 of 500). Spark plans a global sort + skip; real
    * pagination at scale should be keyset-based, but the operator
    * must exist for drop-in compatibility. */
  def q46Offset(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .offset(1000).limit(500)

  val q46Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_orderkey
      |LIMIT 500 OFFSET 1000""".stripMargin

  /** q50: equi-width histogram binning — the profiling staple
    * (distribution shape per group before choosing partition/skew
    * strategy). Bucket arithmetic is plain integer floor on doubles
    * (`width_bucket` is Spark-only; the portable form is identical
    * math on both engines); one partial-aggregated groupBy. */
  def q50Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag"), col("bucket"))

  val q50Sql: String =
    """SELECT l_returnflag,
      |  CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY 1, 2 ORDER BY l_returnflag, bucket""".stripMargin

  /** q51: funnel analysis — ordered-stage conversion (view → click →
    * purchase): a user converts a stage only with an event AFTER
    * their previous stage's first event. Each stage is one filtered
    * aggregate + one user-keyed equi-join against the previous
    * stage; the stage relations are user-count-scaling and statless
    * (aggregate-derived), so the joins pin shuffled builds. Exact
    * integer sums carry the stage delays. */
  def q51Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    def stage(tpe: String) = ev.filter(col("event_type") === tpe)
    val s1 = stage("view").groupBy(col("user_id"))
      .agg(min(col("us")).as("t1"))
    val s2 = stage("click")
      .join(s1.hint("shuffle_hash"), Seq("user_id"))
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id"), col("t1"))
      .agg(min(col("us")).as("t2"))
    val s3 = stage("purchase")
      .join(s2.hint("shuffle_hash"), Seq("user_id"))
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id"), col("t2"))
      .agg(min(col("us")).as("t3"))
    val r1 = s1.agg(count(lit(1)).as("n_users"),
        lit(0L).as("sum_delay_us"))
      .select(lit("1_view").as("stage"), col("n_users"),
        col("sum_delay_us"))
    val r2 = s2.agg(count(lit(1)).as("n_users"),
        sum(col("t2") - col("t1")).cast("long").as("sum_delay_us"))
      .select(lit("2_click").as("stage"), col("n_users"),
        col("sum_delay_us"))
    val r3 = s3.agg(count(lit(1)).as("n_users"),
        sum(col("t3") - col("t2")).cast("long").as("sum_delay_us"))
      .select(lit("3_purchase").as("stage"), col("n_users"),
        col("sum_delay_us"))
    r1.unionByName(r2).unionByName(r3).orderBy(col("stage"))
  }

  val q51Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, s1.t1, MIN(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      |  GROUP BY e.user_id, s1.t1),
      |s3 AS (
      |  SELECT e.user_id, s2.t2, MIN(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      |  GROUP BY e.user_id, s2.t2)
      |SELECT '1_view' AS stage, COUNT(*) AS n_users,
      |  CAST(0 AS BIGINT) AS sum_delay_us FROM s1
      |UNION ALL
      |SELECT '2_click', COUNT(*),
      |  CAST(SUM(t2 - t1) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT '3_purchase', COUNT(*),
      |  CAST(SUM(t3 - t2) AS BIGINT) FROM s3
      |ORDER BY stage""".stripMargin

  /** q49: IGNORE NULLS window offsets — sparse-observation filling
    * (sensor/price series where most rows carry no reading): values
    * are nulled for all but one event type, then each row takes the
    * most recent and the first observed reading in its user's
    * ordered history. One window sort serves both; partition count
    * scales with users. */
  def q49IgnoreNulls(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    Tables.load(spark, dir, "events")
      .withColumn("v",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("ffill", last(col("v"), ignoreNulls = true).over(w))
      .withColumn("first_seen",
        first(col("v"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("v"),
        col("ffill"), col("first_seen"))
      .orderBy(col("event_id"))
  }

  val q49Sql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_type = 'purchase' THEN value END AS v,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END
      |    IGNORE NULLS) OVER w AS ffill,
      |  first_value(CASE WHEN event_type = 'purchase' THEN value END
      |    IGNORE NULLS) OVER w AS first_seen
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q53: correlated LATERAL subquery — "for each row, run this
    * parameterized subquery" (top-2 most recent orders per customer
    * of nation 7). The SQL-surface row the q21 scalar subquery
    * doesn't cover: the inner query returns a RELATION per outer row,
    * with its own ORDER BY + LIMIT referencing the outer customer.
    * Catalyst decorrelates it (DecorrelateInnerQuery rewrites the
    * per-row limit into a partitioned rank filter), so the executed
    * plan is one equi-join plus a per-customer window — bounded
    * partitions, never a nested loop, the plan you'd hand-write at
    * 100 TB. The outer filter keeps the result review-sized; the
    * decorrelation shape is independent of it. */
  def q53Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "customer").createOrReplaceTempView("q53_c")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("q53_o")
    spark.sql(
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice
        |FROM q53_c c JOIN LATERAL (
        |  SELECT o_orderkey, o_orderdate, o_totalprice
        |  FROM q53_o
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_nationkey = 7
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
  }

  val q53Sql: String =
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
      |  o.o_totalprice
      |FROM customer c JOIN LATERAL (
      |  SELECT o_orderkey, o_orderdate, o_totalprice
      |  FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) o ON true
      |WHERE c.c_nationkey = 7
      |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin

  /** q54: cohort retention — the canonical product-analytics rollup:
    * users grouped by first-activity week, counted in each subsequent
    * week they return. Plan shape: one user-keyed min aggregate for
    * the cohort table, re-attached to the event stream by a SHUFFLED
    * user-keyed equi-join (the cohort relation is user-scale,
    * aggregate-derived, statless — broadcast would OOM at real user
    * counts), then a distinct + count keyed on the (cohort, offset)
    * pair. Three hash shuffles, all on natural keys, no window. */
  def q54CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(datediff(col("ts").cast("date"),
          to_date(lit("2024-01-01"))) / 7).cast("long").as("wk"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    ev.join(cohorts.hint("shuffle_hash"), Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q54Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)
      |      AS wk
      |  FROM events),
      |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY 1),
      |d AS (
      |  SELECT DISTINCT ev.user_id, cohort_week,
      |    wk - cohort_week AS week_offset
      |  FROM ev JOIN f USING (user_id))
      |SELECT cohort_week, week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM d GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q21_scalar_subquery", q21ScalarSubquery, q21Sql),
    Op("q22_cube", q22Cube, q22Sql),
    Op("q23_full_outer", q23FullOuter, q23Sql),
    Op("q24_window_frames", q24WindowFrames, q24Sql),
    Op("q25_rank_ratios", q25RankRatios, q25Sql),
    Op("q26_string_funcs", q26StringFuncs, q26Sql),
    Op("q27_regexp_extract", q27RegexpExtract, q27Sql),
    Op("q28_date_arith", q28DateArith, q28Sql),
    Op("q29_explode_words", q29ExplodeWords, q29Sql),
    Op("q30_exact_stats", q30ExactStats, q30Sql),
    Op("q31_mode_top", q31ModeTop, q31Sql),
    Op("q32_distinct_cond", q32DistinctCond, q32Sql),
    Op("q33_grouping_sets", q33GroupingSets, q33Sql),
    Op("q34_bitwise_agg", q34BitwiseAgg, q34Sql),
    Op("q35_sorted_list_agg", q35SortedListAgg, q35Sql),
    Op("q36_argmax", q36Argmax, q36Sql),
    Op("q37_unpivot", q37Unpivot, q37Sql),
    Op("q38_nullsafe_join", q38NullsafeJoin, q38Sql),
    Op("q39_try_cast", q39TryCast, q39Sql),
    Op("q40_range_frame", q40RangeFrame, q40Sql),
    Op("q41_multi_distinct", q41MultiDistinct, q41Sql),
    Op("q44_set_ops_all", q44SetOpsAll, q44Sql),
    Op("q46_offset", q46Offset, q46Sql),
    Op("q49_ignore_nulls", q49IgnoreNulls, q49Sql),
    Op("q50_histogram", q50Histogram, q50Sql),
    Op("q51_funnel", q51Funnel, q51Sql),
    Op("q53_lateral", q53Lateral, q53Sql),
    Op("q54_cohort_retention", q54CohortRetention, q54Sql))
}
