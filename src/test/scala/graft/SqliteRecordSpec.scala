package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SqliteWriter

/** Differential spec for SqliteWriter's record kernel: the pre-sized
  * encoder (`record`, `RecordColumn`, `putVarint`, `makeCell`) against
  * the boxed encoder it replaced, kept here as the reference. Inputs
  * are seeded random rows plus the format's boundaries: every integer
  * width and the 0/1 constants, 9-byte varints (negative and >= 2^56),
  * -0.0 and NaN, multibyte, supplementary and unpaired-surrogate
  * strings, empty blobs, payloads around the one-page limit and the
  * overflow-page stride, and header lengths around the one- and
  * two-byte varint limits. */
class SqliteRecordSpec extends AnyFunSuite {

  // ---- the reference: the boxed encoder, as it stood ---------------
  private object Ref {
    val Usable = SqliteWriter.PageSize

    def varint(v: Long): Array[Byte] = {
      if (v >= 0 && v <= 127) return Array(v.toByte)
      var x = v
      if (x < 0 || x >= (1L << 56)) {
        val bytes = new Array[Byte](9)
        bytes(8) = (x & 0xFF).toByte
        x = x >>> 8
        var i = 7
        while (i >= 0) { bytes(i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7; i -= 1 }
        return bytes
      }
      val out = new ArrayBuffer[Byte](9)
      var shift = 0
      var tmp = x
      while (tmp > 0) { shift += 7; tmp >>= 7 }
      var s = shift - 7
      while (s > 0) { out += (((x >> s) & 0x7F) | 0x80).toByte; s -= 7 }
      out += (x & 0x7F).toByte
      out.toArray
    }

    def intBytes(v: Long): (Long, Array[Byte]) = {
      def fit(n: Int): Boolean = {
        val shift = 64 - n * 8
        (v << shift >> shift) == v
      }
      val (st, n) =
        if (v == 0) (8L, 0) else if (v == 1) (9L, 0)
        else if (fit(1)) (1L, 1) else if (fit(2)) (2L, 2)
        else if (fit(3)) (3L, 3) else if (fit(4)) (4L, 4)
        else if (fit(6)) (5L, 6) else (6L, 8)
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) { b(i) = (v >> ((n - 1 - i) * 8) & 0xFF).toByte; i += 1 }
      (st, b)
    }

    def record(values: Seq[Any]): Array[Byte] = {
      val parts = values.map {
        case null => (0L, Array.emptyByteArray)
        case b: Boolean => intBytes(if (b) 1L else 0L)
        case i: Int => intBytes(i.toLong)
        case l: Long => intBytes(l)
        case d: Double =>
          val bits = java.lang.Double.doubleToLongBits(d)
          (7L, (0 until 8).map(i => (bits >> ((7 - i) * 8) & 0xFF).toByte)
            .toArray)
        case f: Float =>
          val bits = java.lang.Double.doubleToLongBits(f.toDouble)
          (7L, (0 until 8).map(i => (bits >> ((7 - i) * 8) & 0xFF).toByte)
            .toArray)
        case s: String =>
          val b = s.getBytes("UTF-8")
          (13L + 2 * b.length, b)
        case b: Array[Byte] => (12L + 2 * b.length, b)
        case other => throw new IllegalArgumentException(
          s"unsupported SQLite value: ${other.getClass}")
      }
      val serials = parts.flatMap(p => varint(p._1)).toArray
      val hdrLen =
        if (serials.length + 1 <= 127) serials.length + 1
        else serials.length + varint(serials.length + 2).length
      val hdr = varint(hdrLen) ++ serials
      hdr ++ parts.flatMap(_._2)
    }

    /** The leaf cell, and the overflow pages in chain order. */
    def makeCell(rowid: Long, payload: Array[Byte])
        : (Array[Byte], Seq[Array[Byte]]) = {
      val pages = ArrayBuffer[Array[Byte]]()
      val maxLocal = Usable - 35
      if (payload.length <= maxLocal)
        (varint(payload.length) ++ varint(rowid) ++ payload, Nil)
      else {
        val minLocal = (Usable - 12) * 32 / 255 - 23
        val k = minLocal + (payload.length - minLocal) % (Usable - 4)
        val local = if (k <= maxLocal) k else minLocal
        var rest = payload.drop(local)
        while (rest.nonEmpty) {
          val pg = new Array[Byte](Usable)
          // pages are numbered from 1 in allocation order
          if (pages.nonEmpty) putU4(pages.last, 0, pages.size + 1)
          val take = math.min(Usable - 4, rest.length)
          System.arraycopy(rest, 0, pg, 4, take)
          rest = rest.drop(take)
          pages += pg
        }
        val head = varint(payload.length) ++ varint(rowid) ++
          payload.take(local) ++ Array[Byte](0, 0, 0, 0)
        putU4(head, head.length - 4, 1)
        (head, pages.toSeq)
      }
    }

    private def putU4(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = (v >> (24 - 8 * i)).toByte)
  }

  // ---- inputs -------------------------------------------------------
  private val edgeLongs: Seq[Long] = {
    val powers = Seq(7, 8, 15, 16, 23, 24, 31, 32, 47, 48, 55, 56, 62, 63)
      .map(1L << _)
    (Seq(0L, 1L, 2L, -1L, 127L, 128L, -127L, -128L, -129L, 255L, 256L,
      Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1) ++
      powers.flatMap(p => Seq(p - 1, p, p + 1, -p - 1, -p, -p + 1))).distinct
  }

  private val edgeStrings: Seq[String] = Seq("", "a", "héllo",
    "日本語", "😀 smile", "\ud800", "a\udc00b",
    "x" * 200)

  private val edgeValues: Seq[Any] = Seq(null, true, false, 0, 1, -1,
    Int.MinValue, Int.MaxValue, 1.5f, Float.NaN, -0.0f, 0.0, -0.0,
    Double.NaN, java.lang.Double.longBitsToDouble(0x7ff0000000000001L),
    Double.NegativeInfinity, Double.MinPositiveValue,
    Array.emptyByteArray, Array[Byte](0, -1, 127)) ++
    edgeLongs ++ edgeStrings

  private def randomValue(rnd: scala.util.Random): Any = rnd.nextInt(9) match {
    case 0 => null
    case 1 => rnd.nextBoolean()
    case 2 => rnd.nextInt() >> rnd.nextInt(32)
    case 3 => rnd.nextLong() >> rnd.nextInt(64)
    case 4 => java.lang.Double.longBitsToDouble(rnd.nextLong())
    case 5 => rnd.nextFloat() * 1e6f
    case 6 => Array.fill(rnd.nextInt(40))(
      (rnd.nextInt(0xD900) + rnd.nextInt(2) * 0x2700).toChar).mkString
    case 7 =>
      val b = new Array[Byte](if (rnd.nextInt(50) == 0) 5000 else rnd.nextInt(30))
      rnd.nextBytes(b); b
    case _ => edgeValues(rnd.nextInt(edgeValues.size))
  }

  private val randomRows: Seq[Seq[Any]] = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(3000)(Seq.fill(rnd.nextInt(40))(randomValue(rnd)))
  }

  /** Rows whose serial types take `bytes` header bytes in all. */
  private def headerRow(bytes: Int): Seq[Any] =
    // a 64-byte text's serial type (141) is a 2-byte varint, a NULL's 1
    Seq.fill(bytes / 2)("y" * 64) ++ Seq.fill(bytes % 2)(null)

  private val headerRows: Seq[Seq[Any]] =
    (Seq(125, 126, 127, 128, 129, 200).map(Seq.fill(_)(null)) ++
      (16380 to 16385).map(headerRow) ++ (16380 to 16385).map(Seq.fill(_)(7)))

  private def same(a: Array[Byte], b: Array[Byte], what: => String): Unit =
    assert(java.util.Arrays.equals(a, b), what)

  // ---- the kernel against the reference ----------------------------
  test("varints match the reference, 9-byte forms included") {
    (edgeLongs ++ (0 until 64).map(1L << _)).foreach { v =>
      val out = new Array[Byte](12)
      val end = SqliteWriter.putVarint(out, 1, v)
      assert(end - 1 == SqliteWriter.varintLen(v), s"length of $v")
      same(out.slice(1, end), Ref.varint(v), s"varint $v")
    }
  }

  test("records match the reference: boundary values") {
    edgeValues.foreach(v =>
      same(SqliteWriter.record(Seq(v)), Ref.record(Seq(v)), s"value $v"))
    same(SqliteWriter.record(edgeValues), Ref.record(edgeValues), "all edges")
    same(SqliteWriter.record(Nil), Ref.record(Nil), "empty record")
  }

  test("records match the reference: header lengths at varint limits") {
    headerRows.foreach { r =>
      same(SqliteWriter.record(r), Ref.record(r), s"${r.size} columns")
    }
  }

  test("records match the reference: seeded random rows") {
    randomRows.zipWithIndex.foreach { case (r, i) =>
      same(SqliteWriter.record(r), Ref.record(r), s"row $i")
    }
  }

  test("a builder reused across rows gives each row's own record") {
    val b = new SqliteWriter.RecordBuilder
    randomRows.take(500).zipWithIndex.foreach { case (r, i) =>
      r.foreach(b.add)
      same(b.result(), Ref.record(r), s"row $i")
    }
  }

  test("RecordColumn encodes Spark's value forms like the reference") {
    // Spark holds a string as UTF8String.fromString(s), which keeps
    // String.getBytes(UTF_8); the encoder copies those bytes as they
    // are, where the driver-side form decoded them to a String first
    edgeStrings.foreach { s =>
      val u = UTF8String.fromString(s)
      same(u.getBytes, s.getBytes(UTF_8), s"UTF8String bytes of '$s'")
      same(u.toString.getBytes(UTF_8), s.getBytes(UTF_8), s"round trip '$s'")
    }
    def viaSpark(r: Seq[Any]): Array[Byte] =
      SqliteWriter.RecordColumn(r.map(Literal(_))).eval(null)
        .asInstanceOf[Array[Byte]]
    (edgeValues.map(Seq(_)) ++ headerRows ++ randomRows).zipWithIndex
      .foreach { case (r, i) => same(viaSpark(r), Ref.record(r), s"row $i") }
    // narrower integral types widen as the reference's Int does
    same(viaSpark(Seq(3.toByte, (-300).toShort)), Ref.record(Seq(3, -300)),
      "byte and short")
  }

  test("RecordColumn's generated code matches the reference") {
    // one column of each type; a generated projection fails to compile
    // rather than fall back to `eval`
    val types = Seq(NullType, IntegerType, LongType, DoubleType, FloatType,
      BooleanType, StringType, BinaryType)
    val proj = GenerateUnsafeProjection.generate(Seq(SqliteWriter.RecordColumn(
      types.zipWithIndex.map { case (t, i) => BoundReference(i, t, true) })))
    val rnd = new scala.util.Random(11)
    def pick(xs: Seq[Any]): Any =
      if (rnd.nextInt(6) == 0) null else xs(rnd.nextInt(xs.size))
    val strings = edgeStrings ++ randomRows.flatten.collect { case s: String => s }
    (1 to 3000).foreach { i =>
      val r = Seq(null, pick(edgeLongs.map(_.toInt).distinct :+ rnd.nextInt()),
        pick(edgeLongs :+ rnd.nextLong()),
        pick(Seq(0.0, -0.0, Double.NaN, 1e300, rnd.nextDouble())),
        pick(Seq(0f, -0f, Float.NaN, 3.5f, rnd.nextFloat())),
        pick(Seq(true, false)), pick(strings),
        pick(Seq(Array.emptyByteArray, Array.fill(rnd.nextInt(300))(1.toByte))))
      val row = InternalRow.fromSeq(r.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      })
      same(proj(row).getBinary(0), Ref.record(r), s"row $i")
    }
  }

  test("leaf cells and overflow chains match the reference") {
    val maxLocal = SqliteWriter.PageSize - 35
    val minLocal = (SqliteWriter.PageSize - 12) * 32 / 255 - 23
    val stride = SqliteWriter.PageSize - 4
    val lengths = (Seq(0, 1, 127, 128, maxLocal - 1, maxLocal, maxLocal + 1,
      maxLocal + 2, 70000) ++ (1 to 3).flatMap(k =>
        Seq(-1, 0, 1).map(minLocal + k * stride + _)) ++
      (1 to 2).flatMap(k => Seq(-1, 0, 1).map(maxLocal + k * stride + _)))
    val rowids = Seq(1L, 128L, -1L, Long.MinValue, Long.MaxValue, 1L << 56)
    val rnd = new scala.util.Random(4062)
    val dir = Files.createTempDirectory("graft-cells")
    for (n <- lengths; rowid <- rowids) {
      val payload = new Array[Byte](n)
      rnd.nextBytes(payload)
      val store = new SqliteWriter.PageStore(dir.resolve("c.db").toString)
      try {
        val cell = SqliteWriter.makeCell(store, rowid, payload)
        val (want, pages) = Ref.makeCell(rowid, payload)
        assert(cell.rowid == rowid)
        same(cell.bytes, want, s"cell of $n bytes, rowid $rowid")
        assert(store.size == pages.size, s"overflow pages of $n bytes")
        pages.zipWithIndex.foreach { case (p, i) =>
          same(store(i + 1), p, s"overflow page ${i + 1} of $n bytes")
        }
      } finally store.close()
    }
  }
}
