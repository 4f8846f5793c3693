package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational2

class Relational2Spec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  test("every second-tranche query runs non-empty at sf0.001") {
    Relational2.ops.foreach { op =>
      val df = op.run(spark, sf)
      assert(df.count() > 0, s"${op.key} returned no rows")
    }
  }

  test("q22 cube emits all four grouping levels with consistent totals") {
    val rows = Relational2.q22Cube(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Any]("gid").toString.toInt)
    assert(byGid.keySet == Set(0, 1, 2, 3))
    val grand = byGid(3).map(_.getAs[Long]("n")).sum
    assert(byGid(0).map(_.getAs[Long]("n")).sum == grand)
    assert(byGid(1).map(_.getAs[Long]("n")).sum == grand)
    assert(byGid(2).map(_.getAs[Long]("n")).sum == grand)
  }

  test("q23 full outer keeps both unmatched sides, zero-filled") {
    val rows = Relational2.q23FullOuter(spark, sf).collect()
    // nations ≡ 0 mod 2 only (e.g. 2) have n_supp = 0; mod-3-only
    // nations (e.g. 3, 9) have n_cust = 0; mod-6 nations have both.
    assert(rows.exists(r => r.getAs[Long]("n_cust") > 0 &&
      r.getAs[Long]("n_supp") == 0))
    assert(rows.exists(r => r.getAs[Long]("n_cust") == 0 &&
      r.getAs[Long]("n_supp") > 0))
    assert(rows.exists(r => r.getAs[Long]("n_cust") > 0 &&
      r.getAs[Long]("n_supp") > 0))
  }

  test("q25 rank ratios are bounded and quartiles partition evenly") {
    val rows = Relational2.q25RankRatios(spark, sf).collect()
    rows.foreach { r =>
      val pr = r.getAs[Double]("pr"); val cd = r.getAs[Double]("cd")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(cd > 0.0 && cd <= 1.0)
      val q = r.getAs[Int]("quartile")
      assert(q >= 1 && q <= 4)
    }
  }

  test("q30 exact stats agree with Spark's native var_samp/corr") {
    import org.apache.spark.sql.functions._
    val got = Relational2.q30ExactStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("var_qty"), r.getAs[Double]("corr_qp"))).toMap
    val native = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(var_samp(col("l_quantity")).as("v"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    got.foreach { case (k, (v, c)) =>
      assert(math.abs(v - native(k)._1) < 1e-6, s"var $k")
      assert(math.abs(c - native(k)._2) < 1e-6, s"corr $k")
    }
  }

  test("q36 argmax plans as one hash aggregate, no window sort") {
    val plan = Relational2.q36Argmax(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "argmax must not use a window")
    assert(plan.contains("HashAggregate") ||
      plan.contains("SortAggregate"))
  }

  test("q21 decorrelated subquery broadcasts the per-type averages") {
    val plan = Relational2.q21ScalarSubquery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q53 lateral decorrelates to the window formulation, no nested loop") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = Relational2.q53Lateral(spark, sf)
    // the correlated ORDER BY ... LIMIT must execute as a partitioned
    // rank, not a per-row re-scan of orders
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // semantics: identical to the hand-decorrelated window form
    val c = Tables.load(spark, sf, "customer").filter(col("c_nationkey") === 7)
      .select(col("c_custkey"), col("c_name"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    val o = Tables.load(spark, sf, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val expect = c.join(o, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
    assert(got.exceptAll(expect).count() == 0
      && expect.exceptAll(got).count() == 0)
  }
}
