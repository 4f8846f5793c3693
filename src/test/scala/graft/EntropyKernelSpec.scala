package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.EntropyKernel

/** Pin for the r17 t26 kernel move: EntropyKernel.bigramStats must
  * reproduce the explode + two-aggregate bigram-entropy chain
  * BIT-FOR-BIT on the real corpus (the registered query's oracle hash
  * depends on every ni count and every quantized ln), including
  * multi-byte UTF-8 where the packed byte-window keys must not
  * collide and NUL-bearing text where the zero-padding argument is
  * load-bearing. */
class EntropyKernelSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** The pre-r17 expression formulation, with one addition: the
    * `.cast("long")` on `sum(ni)`, a no-op (a sum of longs is already
    * long) that spells out the schema exceptAll compares. */
  private def reference(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), trim(col("text")).as("t"))
    .filter(length(col("t")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, length(t) - 1), " +
        "i -> substring(t, i, 2))")).as("bg"))
    .groupBy(col("doc_id"), col("bg"))
    .agg(count(lit(1)).as("ni"))
    .groupBy(col("doc_id"))
    .agg(sum(col("ni")).cast("long").as("n"),
      count(lit(1)).as("n_distinct"),
      sum(col("ni") *
        round(log(col("ni").cast("double")) * lit(-1e6), 0)
          .cast("long")).as("neg_ln_ni_sum"))

  private def kernel(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), trim(col("text")).as("t"))
    .filter(length(col("t")) >= 2)
    .select(col("doc_id"),
      EntropyKernel.bigramStatsCol(col("t")).as("k"))
    .select(col("doc_id"), col("k").getItem(0).as("n"),
      col("k").getItem(1).as("n_distinct"),
      col("k").getItem(2).as("neg_ln_ni_sum"))

  private def stats(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("kernel equals the explode chain on the corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ref = reference(docs)
    val got = kernel(docs)
    assert(ref.count() > 0)
    assert(ref.exceptAll(got).count() == 0)
    assert(got.exceptAll(ref).count() == 0)
  }

  test("kernel equals the chain on multi-byte and edge-case text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "café au lait — déjà vu, naïve"),
      (2L, "日本語のテキストです。繰り返し繰り返し"),
      (3L, "ab"), // single bigram (filter boundary)
      (4L, "aaaaaaaa"), // one distinct bigram, ni = 7
      (5L, "😀😁😂 emoji bigrams 😀😁"), // 4-byte chars: 8-byte keys
      (6L, "a\u0000b\u0000\u0000c"), // NULs: zero-padding soundness
      (7L, "  padded  "), // trim interaction
      (8L, "xy".repeat(2000))) // long doc, heavy repetition
      .toDF("doc_id", "text")
    val ref = stats(reference(docs))
    assert(ref == stats(kernel(docs)))
    assert(ref.nonEmpty)
  }

  /** Raw bytes → a string column without UTF-8 repair (the cast keeps
    * the bytes as they are). */
  private def rawDocs(docs: Seq[(Long, Seq[Int])]) = {
    import spark.implicits._
    docs.map { case (id, bs) => (id, bs.map(_.toByte).toArray) }
      .toDF("doc_id", "bin")
      .select(col("doc_id"), col("bin").cast("string").as("text"))
  }

  private def utf8(s: String): Seq[Int] =
    s.getBytes("UTF-8").toSeq.map(_ & 0xFF)

  test("kernel equals the chain on malformed UTF-8") {
    // Every malformed sequence is followed by enough bytes for the
    // width its lead byte claims: on a sequence truncated by the end
    // of the string, substring copies bytes past the string's end, so
    // the chain has no defined value there.
    val docs = rawDocs(Seq(
      // lone continuation bytes (width 1 in UTF8String's table)
      1L -> (utf8("a") ++ Seq(0x80) ++ utf8("b") ++ Seq(0xBF, 0x80, 0x80) ++
        utf8("cd") ++ Seq(0x80) ++ utf8("b")),
      // overlong leads 0xC0/0xC1 and invalid leads 0xF5-0xFF: width 1
      2L -> (Seq(0xC0, 0xAF) ++ utf8("x") ++ Seq(0xC1, 0x81, 0xF5, 0xFF,
        0xFE, 0xF8) ++ utf8("yz") ++ Seq(0xC0, 0xAF) ++ utf8("x")),
      // truncated sequences mid-string: the lead byte swallows the
      // ASCII bytes that follow it
      3L -> (Seq(0xE3, 0x81) ++ utf8("ab") ++ Seq(0xE3, 0x81) ++ utf8("ab") ++
        Seq(0xF0, 0x9F, 0x98) ++ utf8("xyz") ++ Seq(0xC3) ++ utf8(" zz")),
      // malformed bytes between valid multi-byte characters
      4L -> (utf8("é") ++ Seq(0x80) ++ utf8("é") ++ Seq(0x80) ++ utf8("日本") ++
        Seq(0xBF) ++ utf8("日本") ++ Seq(0xF4, 0x8F, 0xBF, 0xBF) ++ utf8("ok")),
      // NULs next to stray bytes: zero-padded keys must stay distinct
      5L -> (Seq(0x00, 0x80, 0x00, 0x00, 0x80, 0xC2, 0x00) ++ utf8("ab")),
      // continuation bytes only
      6L -> Seq(0x80, 0x81, 0x80, 0x81, 0x80, 0x81, 0xBF)))
    val ref = stats(reference(docs))
    assert(ref.size == 6)
    assert(ref == stats(kernel(docs)))
  }

  test("kernel stays in bounds on a sequence truncated by the string end") {
    // "ab" + a 3-byte lead: three chars, two bigram windows, the last
    // clamped to the string's bytes
    val got = stats(kernel(rawDocs(Seq(1L -> (utf8("ab") ++ Seq(0xE3))))))
    assert(got == Set((1L, 2L, 2L, 0L)))
  }
}
