package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The ANN core's legs (assign, probe, rank, PQ codes, ADC) on small
  * planted relations whose distances TIE exactly, each checked
  * against a brute force computed here in plain Scala. The sf
  * fixtures have no such ties, so these are the only checks of the
  * tie-breaks the oracles rely on: assign and probe prefer the
  * smaller cent_id / code_id, rank the smaller vec_id. */
class AnnCoreSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def sq(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Centroids on a line, ids deliberately out of position order:
    * every midpoint between neighbours is an exact tie. */
  private val centRows = Seq(3L -> Seq(0L), 1L -> Seq(10L),
    2L -> Seq(20L), 0L -> Seq(30L))
  private def cents: DataFrame = centRows.toDF("cent_id", "qc")

  /** Vectors at the tie midpoints, on a centroid, and outside. */
  private val vecRows = Seq(100L -> Seq(5L), 101L -> Seq(15L),
    102L -> Seq(25L), 103L -> Seq(30L), 104L -> Seq(-7L),
    105L -> Seq(15L), 106L -> Seq(5L))
  private def vecs: DataFrame = vecRows.toDF("vec_id", "qv")

  /** Queries: q 0 and q 1 sit on tie midpoints, q 2 far out. */
  private val queryRows = Seq(0L -> Seq(15L), 1L -> Seq(5L),
    2L -> Seq(100L))
  private def queries: DataFrame = queryRows.toDF("q_id", "q_qv")

  /** Brute argmin by (dist, id). */
  private def argmin(v: Seq[Long], cs: Seq[(Long, Seq[Long])]): Long =
    cs.minBy { case (id, c) => (sq(v, c), id) }._1

  /** Brute probe: the query's cells by (dist, cent_id). */
  private def probeCells(q: Seq[Long], n: Int): Seq[Long] =
    centRows.sortBy { case (id, c) => (sq(q, c), id) }.take(n).map(_._1)

  test("assign: each vector's argmin cell, ties to the smaller cent_id") {
    val got = Similarity.ivfAssign(vecs, cents, "qv")
      .as[(Long, Long, Seq[Long])].collect()
      .map(r => r._1 -> r._2).toMap
    val want = vecRows.map { case (id, v) => id -> argmin(v, centRows) }
      .toMap
    assert(got == want)
    assert(got(100L) == 1L && got(101L) == 1L && got(102L) == 0L)
  }

  test("probe: each query's nprobe cells, ties to the smaller cent_id, " +
    "all cells once nprobe passes the cell count") {
    for (n <- Seq(1, 2, 3, 4, 6)) {
      val got = Similarity.probe(queries, cents, n)
        .select(col("q_id"), col("cell")).as[(Long, Long)].collect()
        .groupMap(_._1)(_._2).map { case (q, cs) => q -> cs.toSet }
      val want = queryRows.map { case (q, v) =>
        q -> probeCells(v, n).toSet }.toMap
      assert(got == want, s"nprobe $n")
    }
    assert(Similarity.probe(queries, cents, 1).filter(col("q_id") === 0L)
      .select(col("cell")).as[Long].collect().toSeq == Seq(1L))
  }

  /** Brute probe-then-rank over the assigned postings. */
  private def bruteSearch(postings: Seq[(Long, Long, Seq[Long])],
      nprobe: Int, k: Int): Seq[(Long, Long, Long, Int)] =
    queryRows.flatMap { case (q, qv) =>
      val cells = probeCells(qv, nprobe).toSet
      postings.filter(p => cells(p._2))
        .map { case (id, _, v) => (id, sq(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
        .map { case ((id, d), i) => (q, id, d, i + 1) }
    }

  test("rank: top k by (dist, vec_id), ties to the smaller vec_id, " +
    "k past the candidate count returns every candidate") {
    val postings = vecRows.map { case (id, v) =>
      (id, argmin(v, centRows), v) }
    val assigned = postings.toDF("vec_id", "cell", "qv")
    for (n <- Seq(1, 2, 4); k <- Seq(1, 2, 3, 20)) {
      val got = Similarity.ivfProbeRank(queries, assigned, cents, n, k)
        .as[(Long, Long, Long, Int)].collect().toSeq
      assert(got == bruteSearch(postings, n, k), s"nprobe $n, k $k")
    }
    // q 0 at 15: vectors 101 and 105 tie at 0, then 100/106/102 at 100
    val q0 = Similarity.ivfProbeRank(queries, assigned, cents, 4, 4)
      .filter(col("q_id") === 0L).select(col("vec_id")).as[Long]
      .collect().toSeq
    assert(q0 == Seq(101L, 105L, 100L, 102L))
  }

  test("a query whose probed cells have no postings gets no rows") {
    // only cell 1 holds postings; q 2 (at 100) probes cell 0 alone
    val assigned = Seq((101L, 1L, Seq(15L)), (105L, 1L, Seq(15L)))
      .toDF("vec_id", "cell", "qv")
    val got = Similarity.ivfProbeRank(queries, assigned, cents, 1, 5)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got.map(_._1).distinct.sorted == Seq(0L, 1L))
    assert(got == bruteSearch(Seq((101L, 1L, Seq(15L)),
      (105L, 1L, Seq(15L))), 1, 5))
  }

  // ---- PQ: 64-dim vectors whose subspace slices are constant --------

  private val Sub = Similarity.PqSubDim
  private def flat(vals: Long*): Seq[Long] = vals.flatMap(Seq.fill(Sub)(_))

  /** Per subspace, codes at 0, 10, 20 with ids out of order; slices at
    * 5 or 15 tie between two codes. */
  private val codeVals = Seq(2L -> 0L, 0L -> 10L, 1L -> 20L)
  private def book: DataFrame =
    (for (s <- 0 until Similarity.PqSubspaces; (id, v) <- codeVals)
      yield (s, id, Seq.fill(Sub)(v))).toDF("sub", "code_id", "qc")

  private val pqVecRows = Seq(20L -> flat(5, 15, 0, 20),
    21L -> flat(15, 5, 10, 5), 22L -> flat(5, 5, 5, 5),
    23L -> flat(0, 10, 20, 15), 24L -> flat(5, 15, 0, 20))
  private val pqQueryRows = Seq(0L -> flat(5, 5, 5, 5),
    1L -> flat(20, 0, 10, 15))

  private def slices(v: Seq[Long]): Seq[Seq[Long]] = v.grouped(Sub).toSeq
  private def codeOf(slice: Seq[Long]): Long =
    codeVals.minBy { case (id, c) => (sq(slice, Seq.fill(Sub)(c)), id) }._1

  test("PQ assign: each subspace's argmin code, ties to the smaller " +
    "code_id") {
    val got = Similarity.pqAssignCodes(pqVecRows.toDF("vec_id", "qv"), book)
      .as[(Long, Int, Long)].collect().toSet
    val want = pqVecRows.flatMap { case (id, v) =>
      slices(v).zipWithIndex.map { case (s, i) => (id, i, codeOf(s)) }
    }.toSet
    assert(got == want)
    // a 5-slice ties codes 2 (at 0) and 0 (at 10): code 0 wins
    assert(got((22L, 0, 0L)))
  }

  test("ADC: distances sum per (q_id, vec_id) over the subspaces, " +
    "ranked by (adc_dist, vec_id)") {
    val qz = (pqQueryRows ++ pqVecRows).toDF("vec_id", "qv")
    val codes = Similarity.pqAssignCodes(qz.filter(col("vec_id") >= 8L),
      book)
    val codeVec = codeVals.toMap
    for (k <- Seq(1, 2, 3, 10)) {
      val got = Similarity.adcScan(qz, codes, book, k)
        .as[(Long, Long, Long, Int)].collect().toSeq
      val want = pqQueryRows.flatMap { case (q, qv) =>
        pqVecRows.map { case (id, v) =>
          id -> slices(v).zip(slices(qv)).map { case (s, qs) =>
            sq(qs, Seq.fill(Sub)(codeVec(codeOf(s)))) }.sum
        }.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
          .map { case ((id, d), i) => (q, id, d, i + 1) }
      }
      assert(got == want, s"k $k")
    }
  }

  test("ADC rank: duplicate lookups of one (q_id, vec_id) add up") {
    val lookups = Seq((0L, 7L, 3L), (0L, 7L, 4L), (0L, 5L, 7L),
      (0L, 6L, 1L), (1L, 5L, 2L), (1L, 5L, 2L))
      .toDF("q_id", "vec_id", "qd")
    val got = Similarity.adcRank(lookups, 3)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got == Seq((0L, 6L, 1L, 1), (0L, 5L, 7L, 2), (0L, 7L, 7L, 3),
      (1L, 5L, 4L, 1)))
  }
}
