package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Op, Pins, Tables}

/** Third tranche of the relational surface (SURVEY.md §2a): OLS
  * regression aggregates and the higher-order array-function surface.
  */
object Relational3 {

  /** q55: per-group OLS regression (slope / intercept / R²) of
    * extendedprice on quantity — the `regr_*` aggregate family,
    * derived from the same exact DECIMAL moment sums as q30 (one
    * shuffle carrying five exact partials per group; every double op
    * happens once, identically, on any engine or executor count).
    * The asymmetric DECIMAL(19,4)×DECIMAL(12,4) operand trick and
    * the ROUND(·,8) margin are q30's (see its scaladoc). */
  def q55Regression(spark: SparkSession, dir: String): DataFrame = {
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
    val covn = col("sxy") * n - sx * sy   // n²·cov
    val varx = col("sxx") * n - sx * sx   // n²·var(x)
    val vary = col("syy") * n - sy * sy
    // zero-variance guard: a constant-x group makes slope 0/0 — Spark
    // would emit NaN where DuckDB NULLs; NULL the denominators on both
    // engines so degenerate groups agree (NULLIF mirrors in the oracle)
    val slope = covn / when(varx =!= 0d, varx)
    agg.select(col("l_returnflag"), n.cast("long").as("n_rows"),
        round(slope, 8).as("slope"),
        round((sy - slope * sx) / n, 8).as("intercept"),
        round((covn * covn) / when(varx * vary =!= 0d, varx * vary), 8)
          .as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val q55Sql: String =
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
      |  ROUND((sxy * n - sx * sy) / NULLIF(sxx * n - sx * sx, 0),
      |    8) AS slope,
      |  ROUND((sy - ((sxy * n - sx * sy) /
      |    NULLIF(sxx * n - sx * sx, 0)) * sx) / n, 8) AS intercept,
      |  ROUND(((sxy * n - sx * sy) * (sxy * n - sx * sy)) /
      |    NULLIF((sxx * n - sx * sx) * (syy * n - sy * sy), 0), 8) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q56: higher-order functions over array columns — `transform`,
    * `filter`, `aggregate`, `zip_with` on a per-order item array.
    * The array is bounded by lines-per-order (≤ 7), so the per-row
    * lambda work is O(1) and the whole query is one key shuffle; all
    * lambda arithmetic is integer-exact in cents (engine-portable).
    * Arrays are sorted on (linenumber, qty, price) — (l_orderkey,
    * l_linenumber) alone is NOT unique in the testdata. Output stays
    * scalar (driver hashing contract). */
  def q56HigherOrder(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").as("ln"),
        // the source columns are DOUBLE cents-with-2-decimals; a bare
        // long cast TRUNCATES in Spark but ROUNDS in DuckDB — round
        // explicitly (the value is within 1e-9 of the true cent, so
        // every round-to-nearest mode agrees)
        round(col("l_quantity") * 100, 0).cast("long").as("qc"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("ln"), col("qc"),
        col("pc")))).as("items"))
    items.select(col("l_orderkey"),
        expr("aggregate(items, 0L, (a, x) -> a + x.qc)")
          .as("sum_qty_c"),
        expr("size(filter(items, x -> x.qc > 2500))").cast("long")
          .as("n_big"),
        expr("""aggregate(
            zip_with(transform(items, x -> x.qc),
                     transform(items, x -> x.pc), (q, p) -> q * p),
            0L, (a, x) -> a + x)""").as("dot_qp"),
        expr("array_max(transform(items, x -> x.pc * 2))")
          .as("max_double_price"))
      .orderBy(col("l_orderkey"))
  }

  val q56Sql: String =
    """WITH it AS (
      |  SELECT l_orderkey,
      |    list(qc ORDER BY ln, qc, pc) AS qs,
      |    list(pc ORDER BY ln, qc, pc) AS ps
      |  FROM (SELECT l_orderkey, l_linenumber AS ln,
      |          CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
      |          CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
      |        FROM lineitem)
      |  GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  CAST(list_sum(qs) AS BIGINT) AS sum_qty_c,
      |  CAST(len(list_filter(qs, x -> x > 2500)) AS BIGINT) AS n_big,
      |  CAST(list_sum(list_transform(generate_series(1, len(qs)),
      |    i -> qs[i] * ps[i])) AS BIGINT) AS dot_qp,
      |  CAST(list_max(list_transform(ps, x -> x * 2)) AS BIGINT)
      |    AS max_double_price
      |FROM it ORDER BY l_orderkey""".stripMargin

  /** q57: SCD Type-2 dimension merge — the set-scale form of the
    * reference's per-row SELECT-by-key → UPDATE/INSERT merge loop
    * (map2db.py 747-812): ONE full-outer key shuffle classifies every
    * key as kept / changed / deleted / new, and the versioned rows
    * (valid_from/valid_to/is_current) come out of three filters over
    * that one join. The incoming snapshot is synthesized
    * deterministically from the dimension itself (keys %100==13
    * deleted, %10==3 re-priced, %100==7 re-keyed as inserts) so the
    * oracle replays it exactly; balances ride as exact cents.
    * valid_to uses a 9999 epoch sentinel instead of NULL so every
    * output cell hashes identically on both engines. Re-keyed
    * inserts land at c_custkey + max(c_custkey) + 1 — derived from
    * the dimension (one 1-row broadcast scalar), so the insert slot
    * is PROVABLY disjoint from genuine keys at any scale factor (a
    * fixed literal offset would collide once keys reach it, e.g.
    * ScaleGen's 1e7-key sf10 replica). */
  def q57Scd2(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("old_bal"))
    // one bounded 1-row collect (the Sampling/LinkGraph scalar
    // pattern — a crossJoin'd max relation would plan a nested-loop
    // join and an aggregate-fed broadcast, both gated)
    val mxKey = Tables.load(spark, dir, "customer")
      .agg(max(col("c_custkey"))).head.getLong(0)
    val snap = cur
      .filter(col("c_custkey") % 100 =!= 13)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 3, col("old_bal") + 10000L)
          .otherwise(col("old_bal")).as("new_bal"))
      .unionAll(cur.filter(col("c_custkey") % 100 === 7)
        .select((col("c_custkey") + lit(mxKey + 1L)).as("c_custkey"),
          col("old_bal").as("new_bal")))
    val j = cur.join(snap, Seq("c_custkey"), "full_outer")
    val closed = j
      .filter(col("old_bal").isNotNull &&
        (col("new_bal").isNull || col("new_bal") =!= col("old_bal")))
      .select(col("c_custkey"), col("old_bal").as("bal_c"),
        lit(0L).as("valid_from"), lit(1L).as("valid_to"),
        lit(0L).as("is_current"))
    val kept = j
      .filter(col("new_bal") === col("old_bal"))
      .select(col("c_custkey"), col("old_bal").as("bal_c"),
        lit(0L).as("valid_from"), lit(9999L).as("valid_to"),
        lit(1L).as("is_current"))
    val opened = j
      .filter(col("new_bal").isNotNull &&
        (col("old_bal").isNull || col("new_bal") =!= col("old_bal")))
      .select(col("c_custkey"), col("new_bal").as("bal_c"),
        lit(1L).as("valid_from"), lit(9999L).as("valid_to"),
        lit(1L).as("is_current"))
    closed.unionAll(kept).unionAll(opened)
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val q57Sql: String =
    """WITH cur AS (
      |  SELECT c_custkey,
      |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS old_bal
      |  FROM customer),
      |snap AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN old_bal + 10000
      |         ELSE old_bal END AS new_bal
      |  FROM cur WHERE c_custkey % 100 <> 13
      |  UNION ALL
      |  SELECT c_custkey + (SELECT MAX(c_custkey) FROM cur) + 1, old_bal
      |  FROM cur WHERE c_custkey % 100 = 7),
      |j AS (
      |  SELECT COALESCE(c.c_custkey, s.c_custkey) AS c_custkey,
      |    c.old_bal, s.new_bal
      |  FROM cur c FULL OUTER JOIN snap s ON c.c_custkey = s.c_custkey)
      |SELECT * FROM (
      |  SELECT c_custkey, old_bal AS bal_c,
      |    CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to,
      |    CAST(0 AS BIGINT) AS is_current
      |  FROM j WHERE old_bal IS NOT NULL
      |    AND (new_bal IS NULL OR new_bal <> old_bal)
      |  UNION ALL
      |  SELECT c_custkey, old_bal, 0, 9999, 1
      |  FROM j WHERE new_bal = old_bal
      |  UNION ALL
      |  SELECT c_custkey, new_bal, 1, 9999, 1
      |  FROM j WHERE new_bal IS NOT NULL
      |    AND (old_bal IS NULL OR new_bal <> old_bal))
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** Longest chain the recursion walks; bounds state and output. */
  val ChainCap = 5

  /** The shared recursive-CTE body for q58 — `src` is the engine's
    * orders relation. Successor edges come from a lead() window
    * FIRST (aggregation/windows are illegal inside a recursive term
    * on both engines), then the recursion is a pure frontier join:
    * Spark executes it as an iterative UnionLoop, shuffling only the
    * frontier per step, with the cap as the recursion predicate. The
    * (date, key) window tiebreak is the testdata's (l_orderkey-style)
    * non-unique-key discipline. */
  private def q58Body(src: String): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT o_orderkey AS cur, LEAD(o_orderkey) OVER (
       |      PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS nxt
       |  FROM $src),
       |firsts AS (
       |  SELECT o_custkey, o_orderkey FROM (
       |    SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
       |        PARTITION BY o_custkey
       |        ORDER BY o_orderdate, o_orderkey) AS rn
       |    FROM $src) ranked
       |  WHERE rn = 1),
       |chain(o_custkey, o_orderkey, step) AS (
       |  SELECT o_custkey, o_orderkey, 1 FROM firsts
       |  UNION ALL
       |  SELECT c.o_custkey, e.nxt, c.step + 1
       |  FROM chain c JOIN edges e ON e.cur = c.o_orderkey
       |  WHERE e.nxt IS NOT NULL AND c.step < $ChainCap)
       |SELECT o_custkey, step, o_orderkey
       |FROM chain ORDER BY o_custkey, step""".stripMargin

  /** q58: RECURSIVE CTE (Spark 4's WITH RECURSIVE) — each customer's
    * first [[ChainCap]] orders materialize by walking a successor
    * relation iteratively, the canonical graph-walk SQL surface
    * (hierarchies, chains, transitive closure). The identical text
    * runs on DuckDB as the oracle; a window formulation cross-checks
    * it in ScalaTest.
    *
    * Each call pins a local checkpoint of the orders window in
    * [[graft.Pins]]. The returned (lazy) DataFrame reads it, so it
    * cannot be freed here: every caller must call `Pins.release()`
    * once the result is materialized, as Bench, Verify, TimeOne and
    * ScaleCurve do between runs. Until then each call's blocks stay
    * pinned. */
  def q58Recursive(spark: SparkSession, dir: String): DataFrame = {
    // Spark guards recursive CTEs with a 1M-row output limit by
    // default; this recursion is depth-capped by its OWN predicate
    // (≤ ChainCap rows per customer ≤ |orders|·ChainCap total), so
    // the guard only has to clear that computed bound — the sf10
    // drill (1.5M customers) tripped the default. The raised bound
    // lives on an ISOLATED child session (shared SparkContext,
    // separate SQLConf): the caller's runaway-recursion guard is
    // never mutated, and later queries on the shared session keep
    // the stock limit. The |orders| count is parquet metadata, not
    // a scan.
    val bound = math.min(
      spark.read.parquet(s"$dir/orders.parquet").count()
        * ChainCap + 1000L,
      Int.MaxValue.toLong)
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
    // r17 (guide §3.3 + §2.4): UnionLoop re-evaluates the recursive
    // term's whole subtree EVERY iteration, so the r16 form paid the
    // successor window over orders once for the anchor and once per
    // step — ChainCap window passes total (the before-plan shows the
    // LogicalRelation + Window pair inside the loop). The edges and
    // firsts CTEs share one window spec, so ONE pass computes both
    // (lead + row_number over the same (custkey; date, key) window),
    // and the eager pin hands the loop a materialized LogicalRDD:
    // the recursion now joins the frontier against pinned node-scale
    // rows — zero orders re-scans, zero re-windows. Same rows and
    // values; the oracle keeps the two-CTE recursive text verbatim
    // (q58Sql), and Relational3Spec pins this form against it.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val base = Pins.checkpoint(
      scoped.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("nxt"),
          row_number().over(w).as("rn")))
    base.createOrReplaceTempView("q58_base")
    scoped.sql(
      s"""WITH RECURSIVE chain(o_custkey, o_orderkey, step) AS (
         |  SELECT o_custkey, o_orderkey, 1 FROM q58_base WHERE rn = 1
         |  UNION ALL
         |  SELECT c.o_custkey, e.nxt, c.step + 1
         |  FROM chain c JOIN q58_base e ON e.o_orderkey = c.o_orderkey
         |  WHERE e.nxt IS NOT NULL AND c.step < $ChainCap)
         |SELECT o_custkey, step, o_orderkey
         |FROM chain ORDER BY o_custkey, step""".stripMargin)
  }

  val q58Sql: String = q58Body("orders")

  val ops: Seq[Op] = Seq(
    Op("q55_regression", q55Regression, q55Sql),
    Op("q56_higher_order", q56HigherOrder, q56Sql),
    Op("q57_scd2_merge", q57Scd2, q57Sql),
    Op("q58_recursive_chain", q58Recursive, q58Sql))
}
