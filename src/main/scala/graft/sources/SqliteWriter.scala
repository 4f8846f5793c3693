package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Minimal single-file SQLite 3 database WRITER, from the public file
  * format specification (https://www.sqlite.org/fileformat2.html).
  *
  * Why from scratch: the reference's deliverable IS a SQLite file
  * (map2db.py:129-255, 1311-1345) — drop-in parity means producing
  * one — and this build environment has no sqlite-jdbc artifact (and
  * no egress to fetch it), but the format itself is public, stable
  * and small. The repo already hand-writes the mapsforge binary
  * format for the same reason.
  *
  * Scope: table b-trees only (no indexes, no freelist, no WAL, UTF-8
  * text, 4096-byte pages, payload overflow chains supported). That is
  * exactly what the reference's output uses — its only schema objects
  * are rowid tables. Files written here open in stock sqlite3
  * (validated by tools/check_sqlite.py via Python's stdlib driver).
  *
  * This is the sub-cluster-scale export, the single-file analogue of
  * `coalesce(1)`: records are encoded where the rows are computed (in
  * Spark tasks, by [[RecordColumn]]), and the driver only packs the
  * finished records, streamed in rowid order, into the pages of one
  * local file. The cluster-scale output remains FdoSink.write's
  * parquet directory.
  */
object SqliteWriter {

  val PageSize = 4096
  private val Usable = PageSize // reserved-per-page = 0

  /** One table: `createSql` is the schema as it should appear in
    * sqlite_master, `records` its rows as encoded records in strictly
    * ascending rowid order. [[Table.fromRows]] encodes rows of values;
    * [[RecordColumn]] encodes them inside a Spark task. */
  final case class Table(name: String, createSql: String,
      records: Iterator[Record])

  /** One row: its rowid and its encoded record ([[RecordBuilder]]). */
  final case class Record(rowid: Long, payload: Array[Byte])

  object Table {
    /** A table of value rows: `rowidCol` names the 0-based column
      * whose integral value is the rowid (an INTEGER PRIMARY KEY alias
      * column, stored as NULL in the record per the format spec), or
      * None for sequential rowids from 1. Values are those
      * [[RecordBuilder.add]] takes. */
    def fromRows(name: String, createSql: String, rows: Iterator[Seq[Any]],
        rowidCol: Option[Int] = None): Table = {
      var n = 0L
      Table(name, createSql, rows.map { vals =>
        n += 1
        val rowid = rowidCol.fold(n)(i => vals(i) match {
          case l: Long => l
          case i2: Int => i2.toLong
          case other => throw new IllegalArgumentException(
            s"rowid column must be integral, got $other")
        })
        Record(rowid, record(rowidCol.fold(vals)(vals.updated(_, null))))
      })
    }
  }

  // ---- varint + record encoding ------------------------------------
  /** Bytes of `v` as a SQLite varint: one per 7-bit group, except that
    * values needing more than 8 groups (negative, or >= 2^56) take the
    * 9-byte form (8 groups + a final byte of the low 8 bits). */
  private[graft] def varintLen(v: Long): Int =
    if (v < 0 || v >= (1L << 56)) 9
    else {
      var n = 1
      var x = v >>> 7
      while (x != 0) { n += 1; x >>>= 7 }
      n
    }

  /** Writes `v` as a varint at `off`; returns the offset after it.
    * Reader.readVarint mirrors the layout. */
  private[graft] def putVarint(b: Array[Byte], off: Int, v: Long): Int = {
    val n = varintLen(v)
    var x = v
    var i = n - 1
    if (n == 9) { b(off + 8) = (x & 0xFF).toByte; x >>>= 8; i = 7 }
    else { b(off + i) = (x & 0x7F).toByte; x >>>= 7; i -= 1 }
    while (i >= 0) { b(off + i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7; i -= 1 }
    off + n
  }

  /** Serial type of an integer: 8/9 for the constants 0/1, else 1-6
    * for the smallest twos-complement width (1, 2, 3, 4, 6, 8 bytes). */
  private def intSerial(v: Long): Long = {
    def fits(n: Int): Boolean = { val s = 64 - n * 8; (v << s >> s) == v }
    if (v == 0) 8 else if (v == 1) 9 else if (fits(1)) 1 else if (fits(2)) 2
    else if (fits(3)) 3 else if (fits(4)) 4 else if (fits(6)) 5 else 6
  }

  /** Body bytes of a value of serial type `st`. */
  private def bodyLen(st: Long): Int =
    if (st >= 12) ((st - 12) / 2).toInt
    else (st.toInt: @annotation.switch) match {
      case 1 => 1; case 2 => 2; case 3 => 3; case 4 => 4; case 5 => 6
      case 6 | 7 => 8; case _ => 0
    }

  /** The record kernel: one SQLite record (a header of serial-type
    * varints, then the values' bodies) built value by value, then
    * written into one exactly-sized array. Adding a value only notes
    * its serial type and where its body comes from; [[result]] sizes
    * the record and writes header and bodies in place. A builder is
    * reused row after row, by one thread. */
  final class RecordBuilder {
    private var n = 0
    private var serial = new Array[Long](16)
    // an integer's value or a double's bits; a text or blob's bytes
    // (an Array[Byte], or a UTF8String copied straight from Spark)
    private var num = new Array[Long](16)
    private var ref = new Array[AnyRef](16)

    private def push(st: Long, v: Long, r: AnyRef): Unit = {
      if (n == serial.length) {
        serial = java.util.Arrays.copyOf(serial, 2 * n)
        num = java.util.Arrays.copyOf(num, 2 * n)
        ref = java.util.Arrays.copyOf(ref, 2 * n)
      }
      serial(n) = st; num(n) = v; ref(n) = r; n += 1
    }

    def addNull(): Unit = push(0, 0, null)
    def addLong(v: Long): Unit = push(intSerial(v), v, null)
    def addBoolean(v: Boolean): Unit = addLong(if (v) 1L else 0L)
    /** REAL, as the canonical bits `doubleToLongBits` gives (one NaN). */
    def addDouble(d: Double): Unit =
      push(7, java.lang.Double.doubleToLongBits(d), null)
    def addText(utf8: Array[Byte]): Unit = push(13L + 2L * utf8.length, 0, utf8)
    def addText(s: UTF8String): Unit = push(13L + 2L * s.numBytes, 0, s)
    def addBlob(b: Array[Byte]): Unit = push(12L + 2L * b.length, 0, b)

    /** A value of a row: null, Boolean, Int, Long, Float, Double,
      * String (stored as UTF-8) or Array[Byte]. */
    def add(v: Any): Unit = v match {
      case null => addNull()
      case b: Boolean => addBoolean(b)
      case i: Int => addLong(i.toLong)
      case l: Long => addLong(l)
      case d: Double => addDouble(d)
      case f: Float => addDouble(f.toDouble)
      case s: String => addText(s.getBytes(StandardCharsets.UTF_8))
      case b: Array[Byte] => addBlob(b)
      case other => throw new IllegalArgumentException(
        s"unsupported SQLite value: ${other.getClass}")
    }

    /** The record of the values added since the last result. */
    def result(): Array[Byte] = {
      var serials = 0
      var body = 0
      var i = 0
      while (i < n) {
        serials += varintLen(serial(i)); body += bodyLen(serial(i)); i += 1
      }
      // the header length counts its own varint: fixpoint in ≤2 tries
      val hdrLen =
        if (serials + 1 <= 127) serials + 1
        else serials + varintLen(serials + 2)
      val out = new Array[Byte](hdrLen + body)
      var h = putVarint(out, 0, hdrLen)
      var p = hdrLen
      i = 0
      while (i < n) {
        val st = serial(i)
        h = putVarint(out, h, st)
        val len = bodyLen(st)
        if (st >= 12) ref(i) match {
          case b: Array[Byte] => System.arraycopy(b, 0, out, p, len)
          case s: UTF8String =>
            s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + p.toLong)
        } else {
          // big-endian integer of `len` bytes (a double's bits: 8)
          val v = num(i)
          var k = 0
          while (k < len) { out(p + k) = (v >> ((len - 1 - k) * 8)).toByte; k += 1 }
        }
        ref(i) = null
        p += len
        i += 1
      }
      n = 0
      out
    }
  }

  /** One record of `values` ([[RecordBuilder.add]]'s value domain). */
  def record(values: Seq[Any]): Array[Byte] = {
    val b = new RecordBuilder
    values.foreach(b.add)
    b.result()
  }

  /** Catalyst expression: its children's values as one SQLite record,
    * encoded inside the task that computes the row, from Spark's own
    * value forms (a string's UTF-8 bytes are copied as they are), in
    * generated code that feeds each child's value straight to a
    * [[RecordBuilder]]. Children may be integral, boolean, float,
    * double, string or binary; a null value, or a NullType child, is a
    * NULL. */
  final case class RecordColumn(children: Seq[Expression]) extends Expression {
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType

    /** The builder call that adds a value of each child's type. */
    @transient private lazy val adds: IndexedSeq[String] =
      children.map(_.dataType match {
        case NullType => "addNull"
        case ByteType | ShortType | IntegerType | LongType => "addLong"
        case BooleanType => "addBoolean"
        case FloatType | DoubleType => "addDouble"
        case _: StringType => "addText"
        case BinaryType => "addBlob"
        case other => throw new IllegalArgumentException(
          s"unsupported SQLite column type: $other")
      }).toIndexedSeq
    @transient private lazy val builder = new RecordBuilder
    // the builder is mutable state: each projection gets a fresh copy,
    // as Spark does for CreateMap's map builder
    override def stateful: Boolean = true

    override def eval(input: InternalRow): Any = {
      val b = builder
      children.iterator.zip(adds.iterator).foreach { case (c, add) =>
        val v = c.eval(input)
        if (v == null) b.addNull()
        else add match {
          case "addNull" => b.addNull()
          case "addLong" => b.addLong(v.asInstanceOf[Number].longValue)
          case "addBoolean" => b.addBoolean(v.asInstanceOf[Boolean])
          case "addDouble" => b.addDouble(v.asInstanceOf[Number].doubleValue)
          case "addText" => b.addText(v.asInstanceOf[UTF8String])
          case "addBlob" => b.addBlob(v.asInstanceOf[Array[Byte]])
        }
      }
      b.result()
    }

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val b = ctx.addMutableState(classOf[RecordBuilder].getName,
        "recordBuilder", v => s"$v = new ${classOf[RecordBuilder].getName}();")
      val values = children.zip(adds).map { case (c, add) =>
        val v = c.genCode(ctx)
        val put = if (add == "addNull") s"$b.addNull();" else s"$b.$add(${v.value});"
        // no stripMargin over generated code: a line of it may start
        // with '|'
        s"""${v.code}
          if (${v.isNull}) $b.addNull(); else $put"""
      }
      ev.copy(code = code"""${ctx.splitExpressionsWithCurrentInputs(values)}
        byte[] ${ev.value} = $b.result();""", isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(children = c)
  }

  /** The record of `cols` as a binary column ([[RecordColumn]]). */
  def recordColumn(cols: Seq[Column]): Column =
    GraftShim.column(RecordColumn(cols.map(GraftShim.expression)))

  // ---- page assembly ------------------------------------------------
  /** Pages are 1-based, backed by the output file itself: completed
    * pages spill to disk as the bounded cache fills, so peak driver
    * memory is the WRITE FRINGE (≤ [[MaxCachedPages]] pages), not the
    * whole database image — a multi-GB export no longer needs
    * database-sized driver heap. A page fetched after eviction is
    * transparently re-read (and re-flushed on close), so late patches
    * — overflow-chain back-links, the page-1 re-home, the final
    * header — stay correct regardless of eviction timing. Callers
    * must NOT retain a page array across `alloc()` calls (eviction
    * would orphan their mutations); they re-fetch via `apply`. */
  private[graft] final class PageStore(path: String) {
    private val file = new java.io.RandomAccessFile(path, "rw")
    file.setLength(0) // truncate any pre-existing file
    private val cache =
      new scala.collection.mutable.LinkedHashMap[Int, Array[Byte]]()
    private var nPages = 0
    def size: Int = nPages
    def alloc(): Int = {
      nPages += 1
      cache(nPages) = new Array[Byte](PageSize)
      while (cache.size > MaxCachedPages) {
        val (pn, pg) = cache.head // oldest entry
        flushPage(pn, pg)
        cache.remove(pn)
      }
      nPages
    }
    def apply(pageNum: Int): Array[Byte] =
      cache.getOrElseUpdate(pageNum, {
        val a = new Array[Byte](PageSize)
        file.seek((pageNum - 1).toLong * PageSize)
        file.readFully(a)
        a
      })
    private def flushPage(pn: Int, pg: Array[Byte]): Unit = {
      file.seek((pn - 1).toLong * PageSize)
      file.write(pg)
    }
    /** Flush every cached page and close the output file. */
    def close(): Unit = {
      cache.foreach { case (pn, pg) => flushPage(pn, pg) }
      cache.clear()
      file.setLength(nPages.toLong * PageSize)
      file.close()
    }
  }

  /** Write-fringe bound: 1024 × 4 KiB = 4 MiB of cached pages. */
  private val MaxCachedPages = 1024

  private def put2(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 8) & 0xFF).toByte; b(off + 1) = (v & 0xFF).toByte
  }
  private def put4(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 24) & 0xFF).toByte
    b(off + 1) = ((v >> 16) & 0xFF).toByte
    b(off + 2) = ((v >> 8) & 0xFF).toByte
    b(off + 3) = (v & 0xFF).toByte
  }

  /** A leaf cell image (already including any overflow pointer) plus
    * its rowid, ready to pack into a page. */
  private[graft] case class Cell(rowid: Long, bytes: Array[Byte])

  /** Payload → leaf cell, spilling to overflow pages as the spec
    * prescribes (maxLocal = U-35; minLocal = (U-12)*32/255-23). The
    * cell is sized up front: length and rowid varints, the local part
    * of the payload and, when it spills, the first overflow page. */
  private[graft] def makeCell(store: PageStore, rowid: Long,
      payload: Array[Byte]): Cell = {
    val maxLocal = Usable - 35
    val n = payload.length
    val local =
      if (n <= maxLocal) n
      else {
        val minLocal = (Usable - 12) * 32 / 255 - 23
        val k = minLocal + (n - minLocal) % (Usable - 4)
        if (k <= maxLocal) k else minLocal
      }
    val head = varintLen(n) + varintLen(rowid)
    val cell = new Array[Byte](head + local + (if (local < n) 4 else 0))
    putVarint(cell, putVarint(cell, 0, n), rowid)
    System.arraycopy(payload, 0, cell, head, local)
    if (local < n) {
      // build the chain; link pages as we go. Track the previous page
      // by NUMBER and re-fetch for the back-link: holding the array
      // across alloc() would let cache eviction orphan the mutation.
      var off = local
      var prevPn = 0
      while (off < n) {
        val pn = store.alloc()
        if (prevPn != 0) put4(store(prevPn), 0, pn)
        else put4(cell, cell.length - 4, pn)
        val take = math.min(Usable - 4, n - off)
        System.arraycopy(payload, off, store(pn), 4, take)
        off += take
        prevPn = pn
      }
    }
    Cell(rowid, cell)
  }

  /** Pack cells into table-leaf pages (type 0x0D). `headerRoom` > 0
    * reserves space (the 100-byte db header on page 1). Returns
    * (pageNum, maxRowid) per page, in key order. */
  private def packLeaves(store: PageStore, cells: Iterator[Cell])
      : ArrayBuffer[(Int, Long)] = {
    val out = new ArrayBuffer[(Int, Long)]()
    val cur = new ArrayBuffer[Cell]()
    var used = 8 // page header
    var lastRowid = Long.MinValue
    def flush(): Unit = if (cur.nonEmpty) {
      val pn = store.alloc()
      writeLeaf(store(pn), 0, cur.toSeq)
      out += ((pn, cur.last.rowid))
      cur.clear(); used = 8
    }
    cells.foreach { c =>
      // b-tree invariant: cells strictly ascend by rowid (callers
      // with an explicit rowid column must pre-sort by it)
      require(c.rowid > lastRowid,
        s"rowids must strictly ascend: ${c.rowid} after $lastRowid")
      lastRowid = c.rowid
      val need = 2 + c.bytes.length
      if (used + need > Usable && cur.nonEmpty) flush()
      cur += c; used += need
    }
    flush()
    out
  }

  private def writeLeaf(page: Array[Byte], headerRoom: Int,
      cells: Seq[Cell]): Unit = {
    page(headerRoom) = 0x0D
    put2(page, headerRoom + 1, 0) // first freeblock
    put2(page, headerRoom + 3, cells.size)
    var content = Usable
    var ptrOff = headerRoom + 8
    cells.foreach { c =>
      content -= c.bytes.length
      System.arraycopy(c.bytes, 0, page, content, c.bytes.length)
      put2(page, ptrOff, content); ptrOff += 2
    }
    put2(page, headerRoom + 5, content)
  }

  /** Interior levels over leaf (or lower interior) pages until one
    * root remains; returns the root page number. */
  private def buildTree(store: PageStore,
      leaves: ArrayBuffer[(Int, Long)]): Int = {
    if (leaves.isEmpty) { // empty table: one empty leaf as root
      val pn = store.alloc()
      writeLeaf(store(pn), 0, Seq.empty)
      return pn
    }
    var level = leaves
    while (level.size > 1) {
      val next = new ArrayBuffer[(Int, Long)]()
      // interior page: 12-byte header + cells of (4B child + varint key)
      var i = 0
      while (i < level.size) {
        val group = new ArrayBuffer[(Int, Long)]()
        var used = 12
        while (i < level.size && (group.size < 2 ||
            used + 4 + 9 + 2 <= Usable)) {
          group += level(i); used += 2 + 4 + 9; i += 1
        }
        val pn = store.alloc()
        val page = store(pn)
        page(0) = 0x05
        put2(page, 1, 0)
        put2(page, 3, group.size - 1)
        // rightmost child pointer
        put4(page, 8, group.last._1)
        var content = Usable
        var ptrOff = 12
        group.dropRight(1).foreach { case (child, maxKey) =>
          // cell: 4-byte child page + varint key, written in place
          content -= 4 + varintLen(maxKey)
          put4(page, content, child)
          putVarint(page, content + 4, maxKey)
          put2(page, ptrOff, content); ptrOff += 2
        }
        put2(page, 5, content)
        next += ((pn, group.last._2))
      }
      level = next
    }
    level.head._1
  }

  /** Root must sit on a SPECIFIC page (page 1 for sqlite_master):
    * re-home the built root there and return the vacated page, which
    * the caller parks on the freelist so integrity_check stays clean.
    * Page 1's root loses `headerRoom` bytes, so only roots whose
    * content fits move; for sqlite_master with a handful of tables
    * this always holds — enforced. */
  private def rehomeRoot(store: PageStore, root: Int, target: Array[Byte],
      headerRoom: Int): Int = {
    val src = store(root)
    // shift the page image right by headerRoom: header+pointers move;
    // cell CONTENT sits at the page tail and stays put
    val typ = src(0)
    val ncells = ((src(3) & 0xFF) << 8) | (src(4) & 0xFF)
    val contentStart = ((src(5) & 0xFF) << 8) | (src(6) & 0xFF)
    val hdrLen = if (typ == 0x05) 12 else 8
    require(headerRoom + hdrLen + 2 * ncells <= contentStart,
      "sqlite_master root does not fit on page 1")
    System.arraycopy(src, 0, target, headerRoom, hdrLen + 2 * ncells)
    System.arraycopy(src, contentStart, target, contentStart,
      Usable - contentStart)
    // turn the vacated page into an empty freelist trunk
    java.util.Arrays.fill(src, 0.toByte)
    put4(src, 0, 0) // no next trunk
    put4(src, 4, 0) // no leaf pointers
    root
  }

  // ---- top level ----------------------------------------------------
  def write(path: String, tables: Seq[Table]): Unit = {
    val store = new PageStore(path)
    val page1 = store.alloc() // reserve page 1
    require(page1 == 1)

    val masterRows = new ArrayBuffer[Seq[Any]]()
    tables.foreach { t =>
      val cells = t.records.map(r => makeCell(store, r.rowid, r.payload))
      val root = buildTree(store, packLeaves(store, cells))
      masterRows += Seq("table", t.name, t.name, root.toLong, t.createSql)
    }

    // sqlite_master b-tree, root on page 1
    var mrid = 0L
    val masterCells = masterRows.iterator.map { r =>
      mrid += 1; makeCell(store, mrid, record(r))
    }
    val masterLeaves = packLeaves(store, masterCells)
    val masterRoot = buildTree(store, masterLeaves)
    val freePage = rehomeRoot(store, masterRoot, store(1), 100)

    writeHeader(store(1), store.size, freePage)
    store.close()
  }

  // ---- minimal reader (round-trip validation + parity checks) ------
  /** Reads back table rows from a SQLite file: enough of the format
    * (header, table b-trees, overflow chains, record decoding) to
    * round-trip-test the writer in ScalaTest without a JDBC driver,
    * and to inspect databases the reference itself produced.
    * tools/check_sqlite.py additionally validates writer output with
    * the REAL sqlite3 (Python stdlib) including integrity_check. */
  object Reader {
    private def u2(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    private def u4(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

    private def readVarint(b: Array[Byte], o: Int): (Long, Int) = {
      var v = 0L; var i = 0
      while (i < 8 && (b(o + i) & 0x80) != 0) {
        v = (v << 7) | (b(o + i) & 0x7F); i += 1
      }
      if (i == 8) ((v << 8) | (b(o + 8) & 0xFF), 9)
      else ((v << 7) | (b(o + i) & 0x7F), i + 1)
    }

    final class Db(path: String) {
      private val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path))
      require(new String(bytes, 0, 15, "UTF-8") == "SQLite format 3",
        "not a SQLite database")
      private val pageSize = u2(bytes, 16)

      private def page(n: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(bytes, (n - 1) * pageSize,
          n * pageSize)

      /** (rowid, values) of every row of the table b-tree at `root`,
        * in rowid order. */
      def rows(root: Int): Seq[(Long, Seq[Any])] = {
        val pg = page(root)
        val headerRoom = if (root == 1) 100 else 0
        val typ = pg(headerRoom) & 0xFF
        val n = u2(pg, headerRoom + 3)
        typ match {
          case 0x0D =>
            (0 until n).map { i =>
              val cellOff = u2(pg, headerRoom + 8 + 2 * i)
              readLeafCell(pg, cellOff)
            }
          case 0x05 =>
            val children = (0 until n).map { i =>
              val cellOff = u2(pg, headerRoom + 12 + 2 * i)
              u4(pg, cellOff).toInt
            } :+ u4(pg, headerRoom + 8).toInt
            children.flatMap(rows)
          case other =>
            throw new IllegalStateException(s"unexpected page type $other")
        }
      }

      private def readLeafCell(pg: Array[Byte], off: Int)
          : (Long, Seq[Any]) = {
        val (payloadLen, l1) = readVarint(pg, off)
        val (rowid, l2) = readVarint(pg, off + l1)
        val usable = pageSize
        val maxLocal = usable - 35
        val payload =
          if (payloadLen <= maxLocal)
            java.util.Arrays.copyOfRange(pg, off + l1 + l2,
              off + l1 + l2 + payloadLen.toInt)
          else {
            val minLocal = (usable - 12) * 32 / 255 - 23
            val k = minLocal + (payloadLen - minLocal) % (usable - 4)
            val local = (if (k <= maxLocal) k else minLocal).toInt
            val buf = new java.io.ByteArrayOutputStream()
            buf.write(pg, off + l1 + l2, local)
            var next = u4(pg, off + l1 + l2 + local).toInt
            var remaining = payloadLen - local
            while (next != 0 && remaining > 0) {
              val op = page(next)
              val take = math.min(usable - 4, remaining).toInt
              buf.write(op, 4, take)
              remaining -= take
              next = u4(op, 0).toInt
            }
            buf.toByteArray
          }
        (rowid, decodeRecord(payload))
      }

      private def decodeRecord(p: Array[Byte]): Seq[Any] = {
        val (hdrLen, h0) = readVarint(p, 0)
        var ho = h0
        val serials = new ArrayBuffer[Long]()
        while (ho < hdrLen) {
          val (st, l) = readVarint(p, ho); serials += st; ho += l
        }
        var off = hdrLen.toInt
        serials.map { st =>
          def int(n: Int): Long = {
            var v = if ((p(off) & 0x80) != 0) -1L else 0L
            var i = 0
            while (i < n) { v = (v << 8) | (p(off + i) & 0xFF); i += 1 }
            off += n; v
          }
          (st: @unchecked) match {
            case 0 => null
            case 1 => int(1)
            case 2 => int(2)
            case 3 => int(3)
            case 4 => int(4)
            case 5 => int(6)
            case 6 => int(8)
            case 7 => java.lang.Double.longBitsToDouble(int(8))
            case 8 => 0L
            case 9 => 1L
            case s if s >= 13 && s % 2 == 1 =>
              val len = ((s - 13) / 2).toInt
              val v = new String(p, off, len, "UTF-8"); off += len; v
            case s if s >= 12 =>
              val len = ((s - 12) / 2).toInt
              val v = java.util.Arrays.copyOfRange(p, off, off + len)
              off += len; v
          }
        }.toSeq
      }

      /** name → (rootpage, create sql) from sqlite_master. */
      def master: Map[String, (Int, String)] =
        rows(1).map(_._2).collect {
          case Seq("table", name: String, _, root: Long, sql: String) =>
            name -> ((root.toInt, sql))
        }.toMap

      def tableRows(name: String): Seq[(Long, Seq[Any])] =
        rows(master(name)._1)
    }
  }

  private def writeHeader(page1: Array[Byte], nPages: Int,
      freePage: Int): Unit = {
    val magic = "SQLite format 3".getBytes("UTF-8") :+ 0.toByte
    System.arraycopy(magic, 0, page1, 0, 16)
    put2(page1, 16, PageSize)
    page1(18) = 1; page1(19) = 1 // legacy file format read/write
    page1(20) = 0 // reserved space
    page1(21) = 64; page1(22) = 32; page1(23) = 32
    put4(page1, 24, 1) // file change counter
    put4(page1, 28, nPages)
    // the page vacated by the sqlite_master re-home is the (only)
    // freelist trunk, so every page is accounted for
    put4(page1, 32, freePage); put4(page1, 36, 1)
    put4(page1, 40, 1) // schema cookie
    put4(page1, 44, 4) // schema format 4 (serial types 8/9 in use)
    put4(page1, 48, 0) // default page cache
    put4(page1, 52, 0) // no autovacuum
    put4(page1, 56, 1) // UTF-8
    put4(page1, 60, 0) // user version
    put4(page1, 64, 0) // no incremental vacuum
    put4(page1, 68, 0) // application id
    put4(page1, 92, 1) // version-valid-for = change counter
    put4(page1, 96, 3045000) // sqlite version number
  }
}
