package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Fifth relational tranche (SURVEY.md §2a): time-weighted averaging
  * and snapshot reconciliation. */
object Relational5 {

  /** q64: time-weighted average (TWAP) — the irregular-time-series
    * mean every feature pipeline and pricing system needs: plain AVG
    * over-weights bursts of closely-spaced observations; TWAP weights
    * each level by how long it HELD (days until the next
    * observation). Daily levels aggregate per (key, day) first so the
    * lead() window orders over unique timestamps (the q60
    * discipline); the last observation carries no forward interval
    * and drops out of both sums. One key shuffle + one window;
    * integer day weights and cent levels keep the division the only
    * double op. */
  def q64Twap(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
    daily.withColumn("days",
        datediff(lead(col("d"), 1).over(w), col("d")).cast("long"))
      .filter(col("days").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("days")).as("held_days"),
        (round(sum(col("q") * col("days")).cast("double")
          / sum(col("days")), 6) + lit(0.0)).as("twap_qty"))
      .orderBy(col("l_suppkey"))
  }

  val q64Sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |iv AS (
      |  SELECT l_suppkey, q,
      |    CAST(LEAD(d) OVER (PARTITION BY l_suppkey ORDER BY d) - d
      |      AS BIGINT) AS days
      |  FROM daily)
      |SELECT l_suppkey, COUNT(*) AS n_intervals,
      |  CAST(SUM(days) AS BIGINT) AS held_days,
      |  ROUND(CAST(SUM(q * days) AS DOUBLE) / SUM(days), 6) + 0.0
      |    AS twap_qty
      |FROM iv WHERE days IS NOT NULL
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** q65: snapshot diff / reconciliation report — the table-level
    * change audit run between two loads of the same dimension
    * ("what changed since yesterday" — the read-side complement of
    * q57's SCD2 merge, which REWRITES; this one REPORTS): one
    * full-outer key shuffle classifies every key as unchanged /
    * changed / deleted / inserted and carries both values for the
    * changed rows. The incoming snapshot is q57's deterministic
    * synthesis (same mutation rules, offset derived from
    * max(c_custkey) via one bounded collect) so the oracle replays
    * it. Output is key-level — at 100 TB a report consumer filters
    * status <> 'unchanged', which pushes down to the join output. */
  def q65SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("old_bal"))
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
    cur.join(snap, Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        when(col("old_bal").isNull, lit("inserted"))
          .when(col("new_bal").isNull, lit("deleted"))
          .when(col("old_bal") === col("new_bal"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_bal"), col("new_bal"))
      .orderBy(col("c_custkey"))
  }

  val q65Sql: String =
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
      |  FROM cur WHERE c_custkey % 100 = 7)
      |SELECT COALESCE(c.c_custkey, s.c_custkey) AS c_custkey,
      |  CASE WHEN c.old_bal IS NULL THEN 'inserted'
      |       WHEN s.new_bal IS NULL THEN 'deleted'
      |       WHEN c.old_bal = s.new_bal THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  c.old_bal, s.new_bal
      |FROM cur c FULL OUTER JOIN snap s ON c.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q64_twap", q64Twap, q64Sql),
    Op("q65_snapshot_diff", q65SnapshotDiff, q65Sql))
}

/** Two pipeline-admission operators that round out §2d: deterministic
  * split assignment and blocklist filtering. */
object PipelineExtras {

  /** Percent cuts for d50: 80 / 10 / 10. */
  val TrainPct = 80
  val ValPct = 10

  /** The portable doc_id → [0, 100) hash both engines replay: the
    * first 8 hex chars of md5(doc_id) parsed as an integer, mod 100.
    * (The d03/portable-plane md5 discipline — no engine-specific
    * hash in an oracle-verified path.) */
  private def splitBucket(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 8), 16, 10).cast("long"), lit(100L))
          .as("bucket"))

  /** d50: deterministic train/val/test SPLIT assignment — the one
    * pipeline step EVERY training corpus passes through, and the one
    * that must be reproducible across engines, reruns and scale: a
    * content-independent hash of the stable id (md5, portable) cuts
    * [0,100) into 80/10/10. Stateless per-row map — no shuffle for
    * the assignment itself; the report is one aggregate. Hash-based
    * (not row_number) so late-arriving or re-partitioned data lands
    * in the SAME split every time — the property that keeps eval
    * sets uncontaminated across incremental loads. */
  def d50SplitAssign(spark: SparkSession, dir: String): DataFrame =
    splitBucket(spark, dir)
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"), col("split"))

  private val bucketSql =
    """list_sum(list_transform(generate_series(1, 8),
      |      p -> (CAST(strpos('0123456789abcdef',
      |              substring(md5(CAST(doc_id AS VARCHAR)), p, 1))
      |            AS BIGINT) - 1)
      |           * (CAST(1 AS BIGINT) << (4 * (8 - p))))) % 100"""
      .stripMargin

  val d50Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, $bucketSql AS bucket
       |  FROM documents)
       |SELECT source,
       |  CASE WHEN bucket < $TrainPct THEN 'train'
       |       WHEN bucket < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
       |  MAX(doc_id) AS max_doc
       |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** Blocklist for t29 — a stand-in for the real (large) lists C4 /
    * CCNet-style cleaners ship; the operator shape (one compiled
    * alternation, word-bounded, case-insensitive) is what scales. */
  val Blockwords: Seq[String] =
    Seq("spam", "clickbait", "lorem", "viagra", "casino")

  private val blockRe =
    "(?i)\\b(" + Blockwords.mkString("|") + ")\\b"

  /** t29: blocklist filtering — the wordlist gate every public-crawl
    * cleaner runs (C4 dropped any page with a banned word; CCNet
    * scores them): one compiled word-bounded case-insensitive
    * alternation per doc, counts over the original text, flag for
    * the drop/keep decision. Stateless single-pass scan behind a
    * cheap guard; the alternation compiles once per task, not per
    * row. RE2-compatible (inline (?i), no lookaround) so the oracle
    * runs the same pattern. */
  def t29Blocklist(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(blockRe)).cast("long")
          .as("n_blocked"))
      .withColumn("is_clean",
        (col("n_blocked") === 0).cast("int").cast("long"))
      .orderBy(col("doc_id"))

  val t29Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$blockRe')) AS BIGINT)
       |    AS n_blocked,
       |  CAST(CASE WHEN len(regexp_extract_all(text, '$blockRe')) = 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_clean
       |FROM documents ORDER BY doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("d50_split_assign", d50SplitAssign, d50Sql),
    Op("t29_blocklist", t29Blocklist, t29Sql))
}
