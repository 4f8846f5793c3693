package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit}

/** What a registered key's output must satisfy: exactly one per key. */
sealed trait Check

/** The output hash-matches this DuckDB SQL run on the same tables. */
final case class Oracle(sql: String) extends Check {
  require(sql != null && sql.nonEmpty, "empty oracle SQL")
}

/** For outputs no SQL can reproduce (sketches, binary map decodes):
  * `violations(spark, dir, result)` lists each way `result`, the key's
  * output on the tables in `dir`, breaks the named property. */
final case class Invariant(name: String,
    violations: (SparkSession, String, DataFrame) => Seq[String])
    extends Check

object Invariant {
  /** One violation per row of `df` where `holds` is false or null, each
    * column shown by name. */
  def failures(df: DataFrame, holds: Column): Seq[String] =
    df.filter(!coalesce(holds, lit(false))).collect().toSeq
      .map(r => r.getValuesMap[Any](r.schema.fieldNames).mkString(", "))

  /** One violation unless `result` holds exactly `want`, in order. */
  def rowsEqual(result: DataFrame, want: Seq[Any]*): Seq[String] = {
    val got = result.collect().toSeq.map(_.toSeq)
    if (got == want) Nil
    else Seq(s"rows ${got.mkString(", ")}; expected ${want.mkString(", ")}")
  }
}

/** One registered key: its Spark implementation and its one check. */
final case class Op(key: String, run: (SparkSession, String) => DataFrame,
    check: Check)

object Op {
  def apply(key: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String): Op = Op(key, run, Oracle(oracleSql))

  /** `groups` in order; a key registered twice fails here instead of
    * one definition silently replacing the other. */
  def registry(groups: Seq[Op]*): Seq[Op] = {
    val ops = groups.flatten
    val twice = ops.groupBy(_.key).collect { case (k, v) if v.size > 1 => k }
    require(twice.isEmpty,
      s"keys registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    ops
  }
}
