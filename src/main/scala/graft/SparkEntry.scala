package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CrawlE2e, DataSelection, MapOps, PipelineExtras,
  PipelineOps, Relational, Relational2, Relational3, Relational4,
  Relational5, Relational6, Relational7, Relational8, Relational9, TopK}
import graft.sources.Interchange

/** The registered keys every harness main reads; SURVEY.md §2 is the
  * inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every implemented operator from SURVEY.md §2, each with its one
    * check. A key registered twice fails here. */
  val ops: Seq[Op] = Op.registry(Relational.ops, Relational2.ops,
    Relational3.ops, Relational4.ops, Relational5.ops, Relational6.ops,
    Relational7.ops, Relational8.ops, Relational9.ops, PipelineExtras.ops,
    MapOps.ops, PipelineOps.ops, DataSelection.ops, CrawlE2e.ops,
    Interchange.ops,
    Seq(Op("q15_grouped_topk", TopK.q15GroupedTopk, TopK.q15Sql)))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(op => op.key -> op.run).toMap

  /** For each key checked by an [[Oracle]], equivalent ANSI SQL runnable
    * by DuckDB on the same parquet tables. */
  def oracleSql: Map[String, String] =
    ops.collect { case Op(key, _, Oracle(sql)) => key -> sql }.toMap
}
