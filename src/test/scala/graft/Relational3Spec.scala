package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational3, TextAnalysis}

/** Cross-checks for the third relational tranche (q55/q56) and the
  * t22 source report — each validated against an independent Spark
  * formulation of the same statistic. */
class Relational3Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q55 slope/intercept/r2 agree with Spark's builtin regr stats") {
    val got = Relational3.q55Regression(spark, sf)
      .select("l_returnflag", "slope", "intercept", "r2")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val exp = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(regr_slope(col("l_extendedprice"), col("l_quantity"))
          .as("s"),
        regr_intercept(col("l_extendedprice"), col("l_quantity"))
          .as("i"),
        regr_r2(col("l_extendedprice"), col("l_quantity")).as("r"))
      .as[(String, Double, Double, Double)].collect()
    assert(exp.nonEmpty)
    exp.foreach { case (flag, s, i, r) =>
      val (gs, gi, gr) = got(flag)
      assert(math.abs(gs - s) < 1e-6, s"slope $flag: $gs vs $s")
      assert(math.abs(gi - i) < 1e-4, s"intercept $flag: $gi vs $i")
      assert(math.abs(gr - r) < 1e-6, s"r2 $flag: $gr vs $r")
    }
  }

  test("q56 higher-order results agree with flat aggregation") {
    val hof = Relational3.q56HigherOrder(spark, sf)
    val flat = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity") * 100, 0).cast("long"))
          .as("f_sum"),
        sum(when(round(col("l_quantity") * 100, 0) > 2500, 1L)
          .otherwise(0L)).as("f_big"),
        max(round(col("l_extendedprice") * 100, 0).cast("long") * 2)
          .as("f_max"))
    val bad = hof.join(flat, "l_orderkey")
      .filter(col("sum_qty_c") =!= col("f_sum") ||
        col("n_big") =!= col("f_big") ||
        col("max_double_price") =!= col("f_max"))
      .count()
    assert(bad == 0)
    assert(hof.count() == flat.count())
  }

  test("q57 SCD2 versions: every key 1-2 rows, currency matches fate") {
    val out = Relational3.q57Scd2(spark, sf).persist()
    try {
      val cust = Tables.load(spark, sf, "customer")
      val n = cust.count()
      // the insert slot starts past max(c_custkey) — derived, so the
      // classification below holds at any scale factor
      val mx = cust.agg(max("c_custkey")).head.getLong(0)
      val perKey = out.groupBy("c_custkey").count()
      assert(perKey.filter(col("count") > 2).count() == 0)
      // deleted keys (%100==13): exactly one CLOSED row, no current
      val deleted = out.filter(col("c_custkey") % 100 === 13 &&
        col("c_custkey") <= mx)
      assert(deleted.filter(col("is_current") === 1).count() == 0)
      assert(deleted.count() ==
        cust.filter(col("c_custkey") % 100 === 13).count())
      // changed keys (%10==3, not deleted): closed v0 + open v1
      val changed = out.filter(col("c_custkey") % 10 === 3 &&
        col("c_custkey") % 100 =!= 13 && col("c_custkey") <= mx)
      assert(changed.filter(col("is_current") === 1).count() ==
        changed.filter(col("is_current") === 0).count())
      // inserts carry the re-keyed offset and are all current
      val inserted = out.filter(col("c_custkey") > mx)
      assert(inserted.filter(col("is_current") =!= 1).count() == 0)
      assert(inserted.count() ==
        cust.filter(col("c_custkey") % 100 === 7).count())
      // row conservation: n - deleted + changed_pairs + inserts
      val nDel = cust.filter(col("c_custkey") % 100 === 13).count()
      val nChg = changed.filter(col("is_current") === 0).count()
      assert(out.count() == n + nChg + inserted.count())
    } finally out.unpersist()
  }

  test("t24 readability: hand-scored doc and bounds") {
    val dir = java.nio.file.Files.createTempDirectory("t24").toString
    Seq((1L, "The cat sat. The dog ran!", "en", "s", 25L),
        (2L, "incomprehensibilities notwithstanding", "en", "s", 37L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t24Readability(spark, dir)
      .select("doc_id", "n_words", "n_sents", "n_syll", "flesch")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 6 words, 2 sentences, syllables: the=1 cat=1 sat.=1
    // the=1 dog=1 ran!=1 → 6
    assert(got(1L)._2 == 6 && got(1L)._3 == 2 && got(1L)._4 == 6)
    val f1 = 206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)
    assert(math.abs(got(1L)._5 - math.rint(f1 * 1e6) / 1e6) < 1e-9)
    // doc 2: in-com-pre-hen-si-bi-li-ties = vowel groups i,o,e,e,i,i,
    // i,ie = 8; notwithstanding: o,i,a,i = 4
    assert(got(2L)._2 == 2 && got(2L)._3 == 1 && got(2L)._4 == 12)
    // corpus-wide: counts positive, syllables >= words
    val bad = TextAnalysis.t24Readability(spark, sf)
      .filter(col("n_syll") < col("n_words") || col("n_sents") < 1)
      .count()
    assert(bad == 0)
  }

  test("d44 projections preserve relative distances approximately") {
    import graft.operators.Similarity
    val proj = Similarity.d44RandomProjection(spark, sf)
    // 16 projections per vector, exactly
    val counts = proj.groupBy("vec_id").count()
      .select("count").distinct().as[Long].collect()
    assert(counts.toSeq == Seq(16L))
    // JL contrast on a PLANTED corpus (arbitrary near-equidistant
    // corpus vectors can legitimately reorder under 16 projections):
    // v1 = v0 + tiny perturbation, v2 = sign-flipped v0. The
    // projected near-pair distance must stay far below the far-pair.
    val dir = java.nio.file.Files.createTempDirectory("d44").toString
    val base = (0 until 64).map(d =>
      math.sin(d * 2.147).toFloat)
    val near = base.zipWithIndex.map { case (x, d) =>
      if (d % 7 == 0) x + 1e-3f else x }
    val far = base.map(x => -x)
    Seq((0L, base, 0L), (1L, near, 0L), (2L, far, 1L))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val planted = Similarity.d44RandomProjection(spark, dir)
      .orderBy("vec_id", "plane").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    def d2(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
    val dNear = d2(planted(0L), planted(1L))
    val dFar = d2(planted(0L), planted(2L))
    assert(dNear * 100 < dFar,
      s"near pair $dNear not << far pair $dFar")
  }

  test("q58 recursive chain equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val got = Relational3.q58Recursive(spark, sf)
      .select("o_custkey", "step", "o_orderkey")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val exp = Tables.load(spark, sf, "orders")
      .withColumn("step", row_number().over(w))
      .filter(col("step") <= Relational3.ChainCap)
      .select(col("o_custkey"), col("step"), col("o_orderkey"))
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got == exp)
  }

  test("q58 leaves the shared session's recursion guard untouched") {
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.getOption(key)
    // force full execution, not just planning
    assert(Relational3.q58Recursive(spark, sf).count() > 0)
    assert(spark.conf.getOption(key) == before,
      "q58 must scope its raised recursion bound to a child session")
  }

  test("q55 zero-variance group yields NULL slope/r2, not NaN") {
    val dir = java.nio.file.Files.createTempDirectory("q55z").toString
    // constant quantity → var(x)=0 → slope/intercept/r2 all NULL
    Seq(("A", 5.0, 100.0), ("A", 5.0, 200.0), ("B", 1.0, 10.0),
        ("B", 2.0, 20.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val rows = Relational3.q55Regression(spark, dir)
      .orderBy("l_returnflag").collect()
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3) &&
      rows(0).isNullAt(4), s"degenerate group must be NULL: ${rows(0)}")
    assert(math.abs(rows(1).getDouble(2) - 10.0) < 1e-9)
  }

  test("g15 shoelace area: hand-computed square") {
    import graft.operators.MapOps
    val dir = java.nio.file.Files.createTempDirectory("g15").toString
    // one ring, vertices in linenumber order: a 10×10 axis-aligned
    // square → area 100, doubled signed area 200
    Seq((1L, 1, 0L, 0L), (1L, 2, 0L, 10L), (1L, 3, 10L, 10L),
        (1L, 4, 10L, 0L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val r = MapOps.g15PolygonArea(spark, dir)
      .select("l_orderkey", "n_vertices", "area2", "area")
      .as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq((1L, 4L, 200L, 100.0)))
  }

  test("t26 entropy: zero for degenerate, ln2 for uniform alternation") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("t26").toString
    Seq((1L, "aaaaaaaa", "en", "s", 8L),
        (2L, "abababab", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t26CharEntropy(spark, dir)
      .select("doc_id", "n_distinct", "entropy")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    // "aaaaaaaa": one bigram type, entropy exactly 0
    assert(r(1L)._2 == 1 && r(1L)._3 == 0.0)
    // "abababab": 7 bigrams, ab×4 + ba×3 — entropy near the 2-symbol
    // bound ln 2 ≈ 0.6931, strictly below it (counts not equal)
    assert(r(2L)._2 == 2)
    assert(r(2L)._3 > 0.6 && r(2L)._3 < 0.6932, r(2L)._3.toString)
  }

  test("t26 entropy rounds an exact half up, as its oracle does") {
    import graft.operators.TextAnalysis
    // a bench-corpus document: ent_num_micro / n_bigrams is exactly
    // 4046126.5 micro-nats; its double just below the half once made
    // DuckDB's round(…, 6) read 4.046126 against Spark's 4.046127
    val e = Seq((647380240L, 160L)).toDF("ent_num_micro", "n_bigrams")
      .select(TextAnalysis.t26Entropy).head.getDouble(0)
    assert(e == 4.046127)
  }

  test("as-of joins resolve duplicate (key, ts) right rows " +
      "deterministically") {
    import graft.operators.AsOf
    val left = Seq((1L, 10L)).toDF("k", "ts")
    // two right rows at the exact left timestamp
    val right = Seq((1L, 10L, "b"), (1L, 10L, "a"), (1L, 10L, "c"))
      .toDF("k", "ts", "v")
    val fwd = AsOf.asofJoinForward(left, right, "k", "ts", "ts")
      .select("r_v").as[String].collect()
    assert(fwd.toSeq == Seq("a"), "forward picks the smallest tuple")
    val bwd = AsOf.asofJoin(left, right, "k", "ts", "ts")
      .select("r_v").as[String].collect()
    assert(bwd.toSeq == Seq("c"), "backward picks the largest tuple")
  }

  test("t22 totals reconcile with the corpus") {
    val rep = TextAnalysis.t22SourceReport(spark, sf)
    val docs = Tables.load(spark, sf, "documents")
    assert(rep.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(rep.agg(sum("total_chars")).head.getLong(0) ==
      docs.agg(sum("n_chars")).head.getLong(0))
    // dup mass never exceeds the docs of its source, ratios in [0,1]
    val bad = rep.filter(col("dup_docs") > col("n_docs") ||
      col("dup_ratio") < 0 || col("dup_ratio") > 1).count()
    assert(bad == 0)
  }
}
