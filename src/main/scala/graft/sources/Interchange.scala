package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Interchange formats (SURVEY.md §2a): JSONL and CSV ingest/egress.
  *
  * Training corpora overwhelmingly arrive as JSONL (one object per
  * line — Spark's native json source shape) and leave audits as CSV;
  * the engine must round-trip both without drift. Each query writes
  * the documents table to the format under test, reads it back with
  * the EXPLICIT parquet schema in FAILFAST mode (silent-null
  * permissive parsing would hide corruption), and aggregates
  * per-language fidelity digests; the oracle computes the same
  * digests straight from the parquet table, so a hash match proves
  * the round trip lost nothing. Both formats split across files and
  * read back file-parallel; JSONL is additionally line-splittable
  * WITHIN a file at any scale, while CSV with quoted embedded
  * newlines (multiLine) necessarily is not.
  */
object Interchange {

  private def roundTripDir(fmt: String, dir: String): String = {
    // pid in the path: concurrent processes over the same data dir
    // (Verify alongside Bench, parallel test forks) must not race each
    // other's mode("overwrite") writes or flap f05's file-count pins
    val p = s"${sys.props("java.io.tmpdir")}/graft_$fmt" +
      s"_${AtomicCommit.dirKey(dir)}_p${ProcessHandle.current().pid()}"
    cleanupOnExit(p)
    p
  }

  /** Pid-unique dirs don't self-overwrite across runs the way the old
    * fixed names did, so each registers a one-shot shutdown delete —
    * tmpdir doesn't accumulate a copy of the documents table per
    * Bench/Verify/test process. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def cleanupOnExit(path: String): Unit =
    if (cleanupRegistered.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(path))
      }))

  /** Per-language fidelity digest: counts, exact integer sums and
    * extrema over every column — any parse drift (a lost row, a
    * mangled string, a re-typed number) moves at least one digest. */
  private def digest(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        min(col("text")).as("min_text"),
        max(col("source")).as("max_source"))
      .orderBy(col("lang"))

  private val digestSql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  min(text) AS min_text, max(source) AS max_source
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** f01: documents → JSONL files → read(schema, FAILFAST) → digest. */
  def f01JsonlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("jsonl", dir)
    docs.write.mode("overwrite").json(out)
    digest(spark.read.schema(docs.schema)
      .option("mode", "FAILFAST").json(out))
  }

  val f01Sql: String = digestSql

  /** f12: GZIP-compressed JSONL round trip — the wire format training
    * corpora actually ship in (CommonCrawl-derived sets land as
    * .jsonl.gz). Byte-lossless like f01, with the SCALE HAZARD the
    * codec carries made explicit: gzip is NOT splittable, so one
    * archive = one task no matter its size — a 100 GB .jsonl.gz
    * would serialize through a single executor core. The remedy is
    * structural, not a knob: ship many medium archives (this writer
    * emits one per input partition) and repartition right after
    * ingest so downstream stages never inherit archive-count
    * parallelism. InterchangeSpec pins the hazard (a single .gz
    * reads back as exactly 1 partition) and the remedy. */
  def f12GzipJsonl(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("jsonlgz", dir)
    docs.write.mode("overwrite")
      .option("compression", "gzip").json(out)
    digest(spark.read.schema(docs.schema)
      .option("mode", "FAILFAST").json(out))
  }

  val f12Sql: String = digestSql

  /** f02: documents → CSV (header, RFC-quoted) → read(schema,
    * FAILFAST) → digest. */
  def f02CsvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("csv", dir)
    docs.write.mode("overwrite")
      .option("header", "true").option("quote", "\"")
      .option("escape", "\"")
      // the writer TRIMS field whitespace by default — a silent
      // corpus mutation at scale; keep bytes exact. The \N sentinel
      // keeps empty string and NULL distinct (reader's default
      // nullValue is "").
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("emptyValue", "\"\"").option("nullValue", "\\N")
      .csv(out)
    // multiLine: document text may legally embed newlines (the writer
    // quotes them); without it the reader splits mid-record and
    // FAILFAST aborts. The cost is intra-file split parallelism —
    // quoted-newline CSV is NOT line-splittable; JSONL (f01) is the
    // splittable text format at scale.
    digest(spark.read.schema(docs.schema)
      .option("header", "true").option("quote", "\"")
      .option("escape", "\"").option("mode", "FAILFAST")
      .option("multiLine", "true")
      .option("emptyValue", "").option("nullValue", "\\N")
      .csv(out))
  }

  val f02Sql: String = digestSql

  /** f03: documents → ORC → read → digest. ORC is the other columnar
    * interchange format warehouses hand over; Spark's reader gets
    * the same pushdown/pruning treatment as parquet. */
  def f03OrcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("orc", dir)
    docs.write.mode("overwrite").orc(out)
    digest(spark.read.schema(docs.schema).orc(out))
  }

  val f03Sql: String = digestSql

  /** f04: hive-style partitioned layout + partition PRUNING — the
    * single most important 100 TB storage decision: a `lang='en'`
    * read over a lang-partitioned corpus must touch only that
    * directory (the scan's PartitionFilters, pinned in
    * PlanShapeSpec), not filter post-hoc over everything. The digest
    * aggregates only the pruned read; the oracle filters the flat
    * table, so a hash match proves pruning lost no rows. */
  def f04PartitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("part", dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    val en = spark.read.parquet(out).filter(col("lang") === "en")
      // partition columns come back last and typed by inference;
      // restore the original column order and lang's string type
      .select(docs.columns.map(c =>
        if (c == "lang") col(c).cast("string").as(c) else col(c))
        .toIndexedSeq: _*)
    digest(en)
  }

  val f04Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  min(text) AS min_text, max(source) AS max_source
      |FROM documents WHERE lang = 'en'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** How many small files f05 plants, and how many it compacts to. */
  val SmallFiles = 50
  val CompactTargets = 4

  /** f05: small-file compaction — the petabyte housekeeping job: a
    * landing zone of per-micro-batch/per-task files (here
    * [[SmallFiles]] planted parts) rewritten into [[CompactTargets]]
    * right-sized files with one round-robin repartition (no key
    * shuffle semantics to preserve). At real scale the same job runs
    * per partition directory with `maxRecordsPerFile` as the bound;
    * the digest proves compaction moved every row, the spec pins the
    * file counts. Both hops are MANIFEST-COMMITTED ([[AtomicCommit]])
    * and both reads go through the committed reader — a compaction
    * that died mid-write re-runs idempotently, and orphan parts from
    * a failed attempt never pollute the compacted output. */
  def f05Compact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val small = roundTripDir("small", dir)
    val compacted = roundTripDir("compacted", dir)
    AtomicCommit.writeParquetCommitted(
      docs.repartition(SmallFiles), small)
    AtomicCommit.writeParquetCommitted(
      AtomicCommit.readParquetCommitted(spark, small)
        .repartition(CompactTargets), compacted)
    digest(AtomicCommit.readParquetCommitted(spark, compacted))
  }

  val f05Sql: String = digestSql

  /** Data-file count in a parquet directory (spec helper). */
  def partFileCount(path: String): Int =
    Option(new java.io.File(path).listFiles()).map(_.count { f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")
    }).getOrElse(0)

  def smallDir(dir: String): String = roundTripDir("small", dir)
  def compactedDir(dir: String): String = roundTripDir("compacted", dir)

  /** f06: documents → TAB-separated plain-text lines
    * (`write.text`/`read.text` + an explicit split — the landing
    * format log shippers and `hadoop fs -text` pipelines emit) →
    * parse → digest. The free-text column rides LAST with a
    * bounded split (limit = field count) so embedded tabs in text
    * can't shift earlier fields; `text` sources are line-splittable,
    * so at 100 TB every file still parallelizes by block the way
    * JSONL does (the f02 multiLine caveat doesn't apply). */
  def f06TsvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("tsv", dir)
    docs.select(concat_ws("\t", col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text")).as("value"))
      .write.mode("overwrite").text(out)
    digest(spark.read.text(out)
      .select(split(col("value"), "\t", 5).as("f"))
      .select(col("f")(0).cast("long").as("doc_id"),
        col("f")(1).as("lang"), col("f")(2).as("source"),
        col("f")(3).cast("long").as("n_chars"),
        col("f")(4).as("text")))
  }

  val f06Sql: String = digestSql

  /** f07: FIXED-WIDTH round trip — the mainframe/EDI landing format:
    * no delimiters at all, each field owns a byte range, records are
    * lines. Only fixed-size fields ride it (ids, codes, counts —
    * free text defeats the format's premise; that's f01/f06's job),
    * so the digest covers the metadata columns. Writer pads into the
    * declared widths after a LOUD width guard (a silently truncated
    * id is corruption, not formatting); reader is pure
    * substring+trim+cast — line-splittable at any scale, zero parse
    * state. */
  private val FwWidths = Seq(
    ("doc_id", 12), ("lang", 8), ("source", 16), ("n_chars", 10))

  def f07FixedWidthRoundTrip(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("fw", dir)
    val over = docs.filter(FwWidths.map { case (c, w) =>
      length(col(c).cast("string")) > w }.reduce(_ || _)).count()
    require(over == 0, s"$over rows exceed fixed-field widths")
    docs.select(concat(FwWidths.map { case (c, w) =>
        rpad(col(c).cast("string"), w, " ") }: _*).as("value"))
      .write.mode("overwrite").text(out)
    val offsets = FwWidths.scanLeft(1) { case (p, (_, w)) => p + w }
    val parsed = spark.read.text(out).select(
      FwWidths.zip(offsets).map { case ((c, w), off) =>
        trim(substring(col("value"), off, w)).as(c)
      }: _*)
    parsed.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).cast("long").as("sum_chars"),
        sum(col("doc_id").cast("long")).cast("long").as("sum_ids"),
        min(col("doc_id").cast("long")).as("min_doc"),
        max(col("doc_id").cast("long")).as("max_doc"),
        max(col("source")).as("max_source"))
      .orderBy(col("lang"))
  }

  val f07Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  max(source) AS max_source
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** f08: SCHEMA EVOLUTION across file generations — the 100 TB
    * landing-zone reality: yesterday's writer shipped 4 columns,
    * today's ships 5, and one read must span both without a rewrite.
    * Generation 1 (even ids) lands WITHOUT `n_chars`; generation 2
    * (odd ids) lands with it; a `mergeSchema` read unions the
    * footers, old files surface honest NULLs for the new column, and
    * the digest separates evolved from legacy rows. Merge cost is
    * footer-only (no data rewrite) — the property that makes additive
    * evolution free at scale. */
  def f08SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("evo", dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .write.mode("overwrite").parquet(s"$out/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/gen=1", s"$out/gen=2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").isNotNull.cast("long")).as("n_evolved"),
        sum(coalesce(col("n_chars"), lit(0L))).cast("long")
          .as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"))
      .orderBy(col("lang"))
  }

  /** The f09 codec sweep: storage-efficiency knobs a 100 TB table
    * chooses between (uncompressed for CPU-bound scans, snappy as the
    * default, zstd for the cold tier — at fleet scale the zstd/snappy
    * gap is petabytes of I/O). */
  val Codecs: Seq[String] = Seq("none", "snappy", "zstd")

  /** f09: compression-codec matrix — the SAME documents table round
    * trips through each parquet codec and must digest identically:
    * compression is a storage knob, never a semantics knob. The spec
    * additionally pins the on-disk size ordering (zstd < snappy <
    * uncompressed on this corpus); the oracle pins losslessness —
    * one digest per codec, all equal to the source digest. */
  def f09CodecMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Codecs.map { c =>
      val out = roundTripDir(s"codec_$c", dir)
      docs.write.mode("overwrite").option("compression",
        if (c == "none") "uncompressed" else c).parquet(out)
      digest(spark.read.parquet(out)).withColumn("codec", lit(c))
        .select(col("codec"), col("lang"), col("n_docs"),
          col("sum_chars"), col("sum_ids"), col("min_doc"),
          col("max_doc"), col("min_text"), col("max_source"))
    }.reduce(_ unionAll _).orderBy(col("codec"), col("lang"))
  }

  /** On-disk bytes of the f09 round-trip dir for `codec` (spec). */
  def codecDirBytes(dir: String, codec: String): Long = {
    val d = new java.io.File(roundTripDir(s"codec_$codec", dir))
    Option(d.listFiles()).map(_.filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.length()).sum).getOrElse(0L)
  }

  val f09Sql: String =
    """SELECT c.codec, d.lang, d.n_docs, d.sum_chars, d.sum_ids,
      |  d.min_doc, d.max_doc, d.min_text, d.max_source
      |FROM (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |    CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |    min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |    min(text) AS min_text, max(source) AS max_source
      |  FROM documents GROUP BY lang) d
      |CROSS JOIN (SELECT unnest(['none', 'snappy', 'zstd']) AS codec) c
      |ORDER BY c.codec, d.lang""".stripMargin

  val f08Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_evolved,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** f10: partition-scoped OVERWRITE (`partitionOverwriteMode=dynamic`)
    * — the incremental-reload primitive: reloading one day/language
    * must replace ONLY the partitions present in the incoming batch.
    * The default STATIC overwrite semantics truncate the whole
    * table first — on a 100 TB lake that is the classic
    * reload-one-day-lose-everything incident; dynamic mode scopes the
    * delete to partitions the new batch actually writes. Plants a
    * hive-partitioned copy, reloads lang='en' with doubled n_chars,
    * and digests the table: the oracle proves the en partition
    * carries the reload while every other partition is the untouched
    * original (the spec additionally pins that non-en partition FILES
    * were not rewritten). */
  def f10PartitionOverwrite(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val out = roundTripDir("dynover", dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    val reload = docs.filter(col("lang") === "en")
      .withColumn("n_chars", (col("n_chars") * 2).cast("long"))
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key, "STATIC")
    try {
      spark.conf.set(key, "dynamic")
      reload.write.mode("overwrite").partitionBy("lang").parquet(out)
    } finally spark.conf.set(key, saved)
    digest(spark.read.parquet(out)
      .select(docs.columns.map(c =>
        if (c == "lang") col(c).cast("string").as(c) else col(c))
        .toIndexedSeq: _*))
  }

  val f10Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, lang, source,
      |    CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END
      |      AS n_chars
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  min(text) AS min_text, max(source) AS max_source
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Spec helper: the f10 output dir for `dir` (this process). */
  def dynOverDir(dir: String): String = roundTripDir("dynover", dir)

  // ---- f11: bucketed co-located join --------------------------------

  /** Bucket count for f11 — fixed so both tables land on the same
    * layout; at cluster scale this is sized to the target parallelism
    * (e.g. 4096 buckets for a 1000-executor fact table). */
  val Buckets = 16

  /** f11: BUCKETED tables join WITHOUT a shuffle — the storage-layout
    * contract every warehouse fact/fact join at 100 TB depends on:
    * orders and lineitem are written once as bucketed+sorted tables
    * (hash(orderkey) mod [[Buckets]] decides the file, in-file rows
    * sort by the key), and every later join on the bucket key reads
    * both sides ALREADY co-partitioned and pre-sorted — the exchange
    * that dominates an unbucketed sort-merge join (reshuffling the
    * whole fact table per query) never appears in the plan, which
    * the spec pins (zero Exchange under the join). The repeated-join
    * economics are the point: the one-time bucketed write amortizes
    * across every downstream join/aggregation on the same key.
    *
    * Lifecycle (durable since r12): the DATA publishes once under a
    * pid-free path via build-to-temp + atomic rename, stamped with
    * the source files' fingerprint; later calls in the session reuse
    * the catalog entry, and a FRESH process re-registers its own
    * in-memory catalog entry over the already-committed files with
    * CLUSTERED BY DDL — no rebuild, which is the point of a
    * warehouse bucketed table. The result is identical to the plain
    * parquet join (bucketing is pure layout), so the oracle is the
    * unbucketed SQL. */
  def f11BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    bucketedTable(spark, dir, "orders", "o_orderkey")
    bucketedTable(spark, dir, "lineitem", "l_orderkey")
    spark.table(bucketedName(dir, "lineitem"))
      .join(spark.table(bucketedName(dir, "orders")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bump when [[Buckets]] or the bucketed write shape changes: a
    * durable on-disk layout must never be silently reinterpreted
    * under a different bucket spec. */
  val BucketLayoutV = 1

  /** Catalog name for the bucketed copy of `table` over `dir` — keyed
    * by dataset dir + bucket count + layout version, NOT pid (r11
    * verdict #8): a warehouse bucketed table is a durable shared
    * artifact. Catalog entries are per-process (in-memory catalog),
    * so forked test JVMs registering the same name cannot collide;
    * the shared DATA path is race-safe via the d56-style
    * build-to-temp + atomic-rename publish in [[bucketedTable]]. */
  def bucketedName(dir: String, table: String): String =
    s"graft_${table}_b${Buckets}v${BucketLayoutV}_" +
      AtomicCommit.dirKey(dir)

  /** Durable (pid-free, NOT cleanup-registered) home of the bucketed
    * files: the one-time layout build amortizes across processes. */
  private def bucketedPath(dir: String, table: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_bucket_${table}" +
      s"_b${Buckets}v${BucketLayoutV}_${AtomicCommit.dirKey(dir)}"

  /** Register (building if absent) the bucketed external table.
    *
    * Durable + race-safe lifecycle (r11 advice + verdict #8):
    *  - IN-PROCESS, the exists-check + build + registration is
    *    synchronized on the interned table name, so two threads can
    *    no longer both see the table absent and race the write;
    *  - CROSS-PROCESS, the data publishes once through
    *    [[AtomicCommit.publishCommitted]] (build-to-temp + atomic
    *    rename, fingerprint-stamped against the source files so a
    *    regenerated dataset rebuilds; losing the rename race reuses
    *    the winner's equivalent layout);
    *  - a SECOND process finds the committed files and registers its
    *    own catalog entry over them with CLUSTERED BY DDL — reusing
    *    the one-time layout instead of rebuilding it, which is the
    *    whole economics of bucketing: one write, every later process
    *    joins shuffle-free. */
  def bucketedTable(spark: SparkSession, dir: String, table: String,
      key: String): Unit = bucketedName(dir, table).intern.synchronized {
    val name = bucketedName(dir, table)
    val path = bucketedPath(dir, table)
    val fp = AtomicCommit.tableFingerprint(spark, dir, table)
    // The catalog entry alone is not freshness (ADVICE r12): a
    // dataset regenerated at the same path mid-session would keep
    // serving the stale layout. Re-validate the committed tree's
    // source fingerprint on every call (a metadata-only listing —
    // the same per-call probe the ANN/dedup index paths run) and
    // drop + rebuild + re-register on mismatch.
    if (spark.catalog.tableExists(name) &&
        AtomicCommit.isCommittedFor(spark, path, fp)) return
    spark.sql(s"DROP TABLE IF EXISTS $name")
    AtomicCommit.publishCommitted(spark, path, fp, { tmp =>
      val tmpTable = name + s"_build_p${ProcessHandle.current().pid()}"
      Tables.load(spark, dir, table)
        // pre-shuffle onto the bucket layout (same murmur3 hash as
        // the bucketing spec) so every bucket is ONE file — multiple
        // files per bucket would both fragment the read and stop the
        // scan from reporting its sort order (forcing a per-query
        // re-sort under the merge join)
        .repartition(Buckets, col(key))
        .write.mode("overwrite")
        .bucketBy(Buckets, key).sortBy(key)
        .option("path", tmp)
        .saveAsTable(tmpTable)
      // external table: dropping the throwaway catalog entry keeps
      // the files; the durable entry is the DDL registration below
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    })
    // register THIS process's catalog entry over the committed files
    val schema = Tables.load(spark, dir, table).schema.toDDL
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name ($schema) USING parquet
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Build (or reuse) both f11 bucketed tables — the one-time layout
    * job, callable on its own so the scale curve can time it
    * separately from the steady-state read (r11 verdict #6). */
  def buildBucketedLayout(spark: SparkSession, dir: String): Unit = {
    bucketedTable(spark, dir, "orders", "o_orderkey")
    bucketedTable(spark, dir, "lineitem", "l_orderkey")
  }

  /** Drop the catalog entries and DELETE the durable layout, forcing
    * the next [[buildBucketedLayout]] to pay the full build. */
  def resetBucketedLayout(spark: SparkSession, dir: String): Unit =
    Seq("orders", "lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${bucketedName(dir, t)}")
      val p = new org.apache.hadoop.fs.Path(bucketedPath(dir, t))
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
    }

  val f11Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("f01_jsonl_roundtrip", f01JsonlRoundTrip, f01Sql),
    Op("f02_csv_roundtrip", f02CsvRoundTrip, f02Sql),
    Op("f03_orc_roundtrip", f03OrcRoundTrip, f03Sql),
    Op("f04_partition_prune", f04PartitionedPrune, f04Sql),
    Op("f05_compaction", f05Compact, f05Sql),
    Op("f06_tsv_roundtrip", f06TsvRoundTrip, f06Sql),
    Op("f07_fixed_width_roundtrip", f07FixedWidthRoundTrip, f07Sql),
    Op("f08_schema_evolution", f08SchemaEvolution, f08Sql),
    Op("f09_codec_matrix", f09CodecMatrix, f09Sql),
    Op("f10_partition_overwrite", f10PartitionOverwrite, f10Sql),
    Op("f11_bucketed_join", f11BucketedJoin, f11Sql),
    Op("f12_gzip_jsonl", f12GzipJsonl, f12Sql))
}
