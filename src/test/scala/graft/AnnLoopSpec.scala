package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The driver-held ANN loops against the join forms they replaced:
  * [[Similarity.beamWalkFrom]] / [[Similarity.navBeamWalk]] against a
  * beam walk that re-joins, de-duplicates and windows its frontier per
  * hop, and [[Similarity.kmeansGrouped]] against a round that
  * aggregates the argmin per (grp, vec_id) and the means per position.
  * Both reference forms live only here. Vectors sit on a coarse integer
  * grid so distance ties are common. */
class AnnLoopSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** The join-form walk: per hop, broadcast the beam, expand it over
    * `edges`, union and distinct, score by joins, rank by a window. */
  object JoinWalk {
    def navBeamWalk(queries: DataFrame, corpus: DataFrame,
        cents: DataFrame, edges: DataFrame, entries: DataFrame,
        beamW: Int, hops: Int, k: Int): DataFrame = {
      val wp = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("cent_id"))
      val entry = queries.join(broadcast(cents))
        .withColumn("dist", Similarity.qDist(col("q_qv"), col("qc")))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= Similarity.NavEntryCells)
        .select(col("q_id"), col("cent_id").as("cell"))
        .join(broadcast(entries), Seq("cell"))
        .select(col("q_id"), col("entry_id").as("vec_id"))
      beamWalkFrom(queries, corpus, edges, entry, beamW, hops, k)
    }

    def beamWalkFrom(queries: DataFrame, corpus: DataFrame,
        edges: DataFrame, entry: DataFrame, beamW: Int, hops: Int,
        k: Int): DataFrame = {
      val wr = Window.partitionBy(col("q_id"))
        .orderBy(col("dist"), col("vec_id"))
      def score(cand: DataFrame): DataFrame =
        broadcast(cand)
          .join(corpus.select(col("vec_id"), col("qv")), Seq("vec_id"))
          .join(queries, Seq("q_id"))
          .withColumn("dist", Similarity.qDist(col("q_qv"), col("qv")))
          .select(col("q_id"), col("vec_id"), col("dist"))
          .withColumn("rn", row_number().over(wr))
      // checkpointed per hop only to keep the plan from doubling
      var beam = Pins.checkpoint(entry)
      var scored = score(beam)
      for (h <- 1 to hops) {
        val expanded = broadcast(beam)
          .join(edges, Seq("vec_id"))
          .select(col("q_id"), col("nbr_id").as("vec_id"))
        scored = score(beam.unionByName(expanded).distinct())
        if (h < hops)
          beam = Pins.checkpoint(scored.filter(col("rn") <= beamW)
            .select(col("q_id"), col("vec_id")))
      }
      scored.filter(col("rn") <= k)
        .withColumnRenamed("rn", "rank")
        .select(col("q_id"), col("vec_id"), col("dist"), col("rank"))
    }
  }

  /** The groupBy-form k-means round loop. */
  def joinKmeans(vecs: DataFrame, init: DataFrame, iters: Int,
      sampleFraction: Double): DataFrame = {
    val train =
      if (sampleFraction >= 1.0) vecs
      else vecs.filter(pmod(col("vec_id") * 2654435761L, lit(1000000L))
        < (sampleFraction * 1000000L).toLong)
    var cents: Seq[(Long, Long, Seq[Long])] = init
      .select(col("grp").cast("long"), col("cent_id").cast("long"),
        col("qc"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    for (_ <- 1 to iters) {
      val centDf = cents.toDF("grp", "cent_id", "qc")
      val means = train.join(broadcast(centDf), Seq("grp"))
        .withColumn("dist", Similarity.qDist(col("qv"), col("qc")))
        .groupBy(col("grp"), col("vec_id"))
        .agg(min(struct(col("dist"), col("cent_id"))).as("best"),
          first(col("qv")).as("qv"))
        .select(col("grp"), col("best.cent_id").as("cent_id"),
          posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("grp"), col("cent_id"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("comp"))
        .groupBy(col("grp"), col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("comp")))),
          s => s.getField("comp")).as("qc"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2))).toMap
      cents = cents.map { case (g, id, old) =>
        (g, id, means.getOrElse((g, id), old)) }
    }
    cents.toDF("grp", "cent_id", "qc")
  }

  type Hit = (Long, Long, Long, Int)

  private def hits(df: DataFrame): Seq[Hit] =
    df.select(col("q_id"), col("vec_id"), col("dist"), col("rank"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))

  /** The new walk's rows, checked sorted, against the join form's. */
  private def sameWalk(got: DataFrame, want: DataFrame, what: String)
      : Seq[Hit] = {
    val g = hits(got)
    val w = hits(want).sortBy(h => (h._1, h._4))
    assert(g == g.sortBy(h => (h._1, h._4)), s"$what: not sorted")
    assert(g == w, s"$what:\n got  $g\n want $w")
    Pins.release()
    g
  }

  private def vecs(rows: (Long, Seq[Long])*): DataFrame =
    rows.toDF("vec_id", "qv")
  private def queries(rows: (Long, Seq[Long])*): DataFrame =
    rows.toDF("q_id", "q_qv")
  private def pairs(a: String, b: String)(rows: (Long, Long)*): DataFrame =
    rows.toDF(a, b)

  // one query at the origin; 10-13 are the four unit neighbours (all
  // tied at distance 1), 14 and 15 sit further out, 16 has no
  // out-edges, 99 is an entry outside the corpus
  private val q1 = queries(1L -> Seq(0L, 0L), 2L -> Seq(3L, 3L))
  private val corpus1 = vecs(10L -> Seq(1L, 0L), 11L -> Seq(0L, 1L),
    12L -> Seq(-1L, 0L), 13L -> Seq(0L, -1L), 14L -> Seq(2L, 2L),
    15L -> Seq(3L, 2L), 16L -> Seq(3L, 3L))
  private val edges1 = pairs("vec_id", "nbr_id")(14L -> 13L, 14L -> 12L,
    14L -> 11L, 14L -> 10L, 14L -> 10L, 15L -> 14L, 15L -> 16L,
    99L -> 15L, 13L -> 14L, 12L -> 14L)

  test("walk: equal distances keep the smaller vec_id in the beam") {
    val entry = pairs("q_id", "vec_id")(1L -> 14L, 2L -> 14L)
    for (hops <- 0 to 3; beamW <- Seq(1, 2, 3); k <- Seq(1, 2, 9)) {
      val g = sameWalk(
        Similarity.beamWalkFrom(q1, corpus1, edges1, entry, beamW, hops, k),
        JoinWalk.beamWalkFrom(q1, corpus1, edges1, entry, beamW, hops, k),
        s"hops $hops beam $beamW k $k")
      if (hops == 1 && k >= 2)
        assert(g.filter(_._1 == 1L).take(2).map(_._2) == Seq(10L, 11L), g)
    }
  }

  test("walk: entries outside the corpus, without edges, duplicated, " +
    "and k past the reachable set") {
    // 99 is outside the corpus but has an out-edge; 16 has none; 14
    // appears twice for query 1 (a duplicate entry row); 7 is a q_id
    // with no query vector
    val entry = pairs("q_id", "vec_id")(1L -> 99L, 1L -> 14L, 1L -> 14L,
      2L -> 16L, 7L -> 10L)
    for (hops <- Seq(0, 1, 2, 4); beamW <- Seq(1, 4); k <- Seq(3, 50))
      sameWalk(
        Similarity.beamWalkFrom(q1, corpus1, edges1, entry, beamW, hops, k),
        JoinWalk.beamWalkFrom(q1, corpus1, edges1, entry, beamW, hops, k),
        s"hops $hops beam $beamW k $k")
    // only 16 is reachable from query 2's entry: k = 50 returns one row
    val g = hits(
      Similarity.beamWalkFrom(q1, corpus1, edges1, entry, 4, 3, 50))
    assert(g.filter(_._1 == 2L) == Seq((2L, 16L, 0L, 1)), g)
  }

  test("walk: routed entries, including a cell with no medoid") {
    // cell 1 (nearest to query 1) has no medoid; cells 0, 2 and 3
    // tie for query 2, which enters at cells 0 and 2
    val cents = Seq(0L -> Seq(2L, 2L), 1L -> Seq(0L, 0L),
      2L -> Seq(4L, 4L), 3L -> Seq(2L, 4L)).toDF("cent_id", "qc")
    val entries = pairs("cell", "entry_id")(0L -> 14L, 2L -> 15L,
      3L -> 10L)
    for (hops <- 0 to 2; beamW <- Seq(1, 3); k <- Seq(2, 9))
      sameWalk(
        Similarity.navBeamWalk(q1, corpus1, cents, edges1, entries,
          beamW, hops, k),
        JoinWalk.navBeamWalk(q1, corpus1, cents, edges1, entries,
          beamW, hops, k),
        s"hops $hops beam $beamW k $k")
  }

  test("walk: random graphs with ties, dangling and duplicate edges") {
    val rnd = new Random(7)
    for (trial <- 1 to 6) {
      val n = 20 + rnd.nextInt(20)
      def pt = Seq.fill(3)(rnd.nextInt(4).toLong)
      val qs = queries((1L to 3L).map(q => q -> pt): _*)
      val corp = vecs((100L until 100L + n).map(v => v -> pt): _*)
      val eg = pairs("vec_id", "nbr_id")(Seq.fill(n * 3)(
        (100L + rnd.nextInt(n + 3)) -> (100L + rnd.nextInt(n + 3))): _*)
      val entry = pairs("q_id", "vec_id")((1L to 3L).flatMap(q =>
        Seq.fill(1 + rnd.nextInt(2))(q -> (100L + rnd.nextInt(n + 2)))): _*)
      val (beamW, hops, k) = (1 + rnd.nextInt(4), rnd.nextInt(4),
        1 + rnd.nextInt(6))
      sameWalk(
        Similarity.beamWalkFrom(qs, corp, eg, entry, beamW, hops, k),
        JoinWalk.beamWalkFrom(qs, corp, eg, entry, beamW, hops, k),
        s"trial $trial (beam $beamW, hops $hops, k $k)")
    }
  }

  private def cents(df: DataFrame): Seq[(Long, Long, Seq[Long])] =
    df.select(col("grp"), col("cent_id"), col("qc")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq))

  private def sameKmeans(v: DataFrame, init: DataFrame, iters: Int,
      frac: Double, what: String): Seq[(Long, Long, Seq[Long])] = {
    val got = Similarity.kmeansGrouped(v, init, iters, frac)
    val want = joinKmeans(v, init, iters, frac)
    assert(got.schema == want.schema, what)
    assert(cents(got) == cents(want), s"$what:\n got  ${cents(got)}\n" +
      s" want ${cents(want)}")
    cents(got)
  }

  test("k-means: ties go to the smaller cent_id, empty cells keep " +
    "their centroid, duplicate rows count once") {
    // (1, 0) and (1, 2) are equidistant from centroids 0 and 1; cent
    // 2 is far from everything and stays empty; vec 5 is listed twice
    val v = Seq((0L, 3L, Seq(1L, 0L)), (0L, 4L, Seq(1L, 2L)),
      (0L, 5L, Seq(3L, 1L)), (0L, 5L, Seq(3L, 1L)), (0L, 6L, Seq(-1L, 1L)))
      .toDF("grp", "vec_id", "qv")
    val init = Seq((0L, 0L, Seq(0L, 1L)), (0L, 1L, Seq(2L, 1L)),
      (0L, 2L, Seq(90L, 90L))).toDF("grp", "cent_id", "qc")
    for (iters <- 0 to 3) {
      val c = sameKmeans(v, init, iters, 1.0, s"iters $iters")
      if (iters == 1)
        // cell 0: {3, 4, 6} → floor((1+1-1)/3), floor((0+2+1)/3); cell
        // 1: {5} once; cell 2 empty
        assert(c == Seq((0L, 0L, Seq(0L, 1L)), (0L, 1L, Seq(3L, 1L)),
          (0L, 2L, Seq(90L, 90L))), c)
    }
  }

  test("k-means: several groups, sampled training, random ties") {
    val rnd = new Random(11)
    for (trial <- 1 to 4) {
      val v = (0L until 3L).flatMap { g =>
        (0L until 40L).map(id => (g, id, Seq.fill(2)(rnd.nextInt(5) - 2L)))
      }
      val withDup = (v ++ v.take(5)).toDF("grp", "vec_id", "qv")
      // group 2 has no centroids: its vectors train nothing
      val init = v.filter(r => r._2 < 3 && r._1 < 2)
        .map(r => (r._1, r._2, r._3)).toDF("grp", "cent_id", "qc")
      for (frac <- Seq(1.0, 0.5))
        sameKmeans(withDup, init, 3, frac, s"trial $trial, fraction $frac")
    }
  }
}
