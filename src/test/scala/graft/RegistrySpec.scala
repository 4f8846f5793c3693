package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one op registry: every key is one [[Op]] with exactly one
  * [[Check]], the key sets match `registry_keys.txt` (one line per key:
  * its name and its kind of check), a repeated key fails, and each
  * [[Invariant]] holds on real output yet catches a corrupted copy. */
class RegistrySpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  private val pinned: Map[String, String] = scala.io.Source
    .fromResource("registry_keys.txt").getLines()
    .map(_.split(" ")).map { case Array(k, kind) => k -> kind }.toMap

  test("the registry holds 304 keys: 299 oracle and 5 invariant checks") {
    val kinds = SparkEntry.ops.map(_.check).groupBy {
      case _: Oracle => "oracle"
      case _: Invariant => "invariant"
    }.map { case (kind, cs) => kind -> cs.size }
    assert(SparkEntry.ops.size == 304)
    assert(kinds == Map("oracle" -> 299, "invariant" -> 5))
  }

  test("queries and oracleSql project the pinned key sets") {
    assert(SparkEntry.queries.keySet == pinned.keySet)
    assert(SparkEntry.oracleSql.keySet ==
      pinned.collect { case (k, "oracle") => k }.toSet)
  }

  test("a key registered twice throws") {
    val op = Op("x", (s, d) => Tables.load(s, d, "region"), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Op.registry(Seq(op), Seq(op.copy(check = Oracle("SELECT 2")))))
    assert(e.getMessage.contains("keys registered twice: x"))
  }

  // per invariant key: a Long column whose first-row value, changed as
  // given, the check must reject
  private val corruptions: Seq[(String, String, Long => Long)] = Seq(
    ("q12_approx_distinct", "approx_parts", _ * 2),
    ("q47_approx_percentile", "n", _ + 1),
    ("q87_hll_merge", "exact_full", _ + 1),
    ("g13_map_pipeline", "n_rows", _ + 1),
    ("g14_fleet_scan", "n_ways", _ + 1))

  test("every invariant key has a corruption case") {
    assert(corruptions.map(_._1).toSet ==
      pinned.collect { case (k, "invariant") => k }.toSet)
  }

  corruptions.foreach { case (key, column, corrupt) =>
    test(s"$key's invariant holds at sf0.001 and rejects a corrupted " +
        s"$column") {
      val op = SparkEntry.ops.find(_.key == key).get
      val Invariant(_, violations) = op.check
      val result = op.run(spark, sf)
      val rows = result.collect().toSeq
      assert(rows.nonEmpty)
      def check(rs: Seq[Row]) = violations(spark, sf,
        spark.createDataFrame(rs.asJava, result.schema))
      assert(check(rows) == Nil)
      val i = result.schema.fieldIndex(column)
      val bad = Row.fromSeq(
        rows.head.toSeq.updated(i, corrupt(rows.head.getLong(i))))
      assert(check(bad +: rows.tail).size == 1)
    }
  }
}
