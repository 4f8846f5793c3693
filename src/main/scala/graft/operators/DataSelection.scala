package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Pins, Tables}
import graft.functions.TextFunctions

/** Data-selection operators for the training-corpus pipeline
  * (SURVEY.md §2d): DSIR importance resampling (d92) and winnowing
  * fingerprint selection (d93). Both follow the repo's portable-hash
  * discipline (first 8 hex chars of md5, parsed as an integer) so the
  * DuckDB oracle replays every hash bit-for-bit. */
object DataSelection {

  /** Hashed-feature bucket count for d92 (DSIR's hashed n-gram space;
    * small enough to broadcast as a literal-bounded relation, big
    * enough that bucket collisions don't flatten the ratio signal). */
  val DsirBuckets = 512L

  /** Fixed-point scale for the per-bucket log-likelihood ratio: the
    * t15 discipline (floor(scale·ln x) as BIGINT) makes the per-doc
    * sum exact-integer and therefore order-free — a float sum over an
    * unordered groupBy would be partitioning-dependent. */
  val LrScale = 1000000L

  /** Portable word → [0, DsirBuckets) hash, Spark side. */
  private def wordBucket(w: Column): Column =
    pmod(conv(substring(md5(w.cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(DsirBuckets))

  /** Portable hash, DuckDB side: parse the first 8 md5 hex chars via
    * strpos arithmetic (the d50 idiom), mod `m`. The lambda variable
    * is deliberately obscure — `e` is caller SQL and a common name
    * (`p`) would be captured by the lambda scope. */
  private def bucketSql(e: String, m: Long): String =
    s"""list_sum(list_transform(generate_series(1, 8),
       |      hxp -> (CAST(strpos('0123456789abcdef',
       |              substring(md5($e), hxp, 1)) AS BIGINT) - 1)
       |           * (CAST(1 AS BIGINT) << (4 * (8 - hxp))))) % $m"""
      .stripMargin

  /** d92: DSIR-style importance resampling (Xie et al. 2023, public)
    * — the data-SELECTION step a targeted pretraining mix runs:
    * score every raw document by how much more likely its words are
    * under a TARGET domain's unigram hashed-feature model than under
    * the raw corpus's, and keep the high-scorers. Target here = the
    * `lang = 'en'` slice (the stand-in for "quality domain"); both
    * models are Laplace-smoothed over [[DsirBuckets]] hashed word
    * buckets.
    *
    * Shape at 100 TB: two bucket-count aggregates (one filtered),
    * joined into ONE bounded ≤[[DsirBuckets]]-row log-ratio relation
    * that broadcasts by construction; the corpus is then scanned
    * once — explode words → broadcast-join the ratio → one
    * doc-keyed sum. Per-bucket ratio is quantized to integer
    * micro-nats (floor(1e6·ln), single ln over an exact-in-double
    * rational) so the per-doc aggregation is an exact long sum —
    * no float-order dependence anywhere. */
  def d92Dsir(spark: SparkSession, dir: String): DataFrame = {
    // the tokenized + hash-bucketed word relation feeds the raw
    // histogram, the target histogram, and the per-doc scoring join —
    // without truncation each consumer re-executes the explode +
    // per-word md5 bucket (r16 plan audit: 20 scans / 50 exchanges in
    // the initial plan). One eager checkpoint of the narrow
    // (doc_id, lang, b) relation caps tokenization at one pass
    // (guide §3.3); rows identical, oracle unchanged.
    val docs = Pins.checkpoint(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(TextFunctions.words(col("text"))).as("w"))
        .select(col("doc_id"), col("lang"),
          wordBucket(col("w")).as("b")))
    val raw = docs.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = docs.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("tr")).crossJoin(
      tgt.agg(sum(col("ct")).as("tt")))
    // ≤ DsirBuckets rows by construction — broadcast is the contract
    val lr = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(LrScale.toDouble) * log(
          ((col("ct") + 1) * (col("tr") + DsirBuckets)).cast("double")
            / ((col("cr") + 1) * (col("tt") + DsirBuckets))
              .cast("double")))
          .cast("long").as("lr_micro"))
    // scored feeds both the percentile threshold and the final
    // report — pin the doc-count-sized relation so the scoring join
    // runs once (same guide §3.3 rationale as docs above)
    val scored = Pins.checkpoint(docs
      .join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("lr_micro")).cast("long").as("score_micro"))
      // integer score-per-word (floor division — exact, portable):
      // the raw sum is length-biased, the selection key must not be
      .withColumn("spw",
        floor(col("score_micro").cast("double") / col("n_words"))
          .cast("long")))
    // E_raw[ln(pt/pr)] = -KL(raw‖target) ≤ 0, so a ">0" cut selects
    // ~nothing; DSIR keeps the top of the importance ranking — here
    // the top quintile via an exact DISCRETE percentile (an actual
    // data value, so >= keeps engines bit-agreed)
    val thr = scored.agg(
      expr("CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY spw)" +
        " AS BIGINT)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .withColumn("selected",
        (col("spw") >= col("thr")).cast("int").cast("long"))
      // spw IS the per-word mean in micro-nats — already exact; a
      // rounded double mean would reintroduce the engine-specific
      // round-half boundary this operator is designed to avoid
      .select(col("doc_id"), col("n_words"), col("score_micro"),
        col("spw").as("spw_micro"), col("selected"))
      .orderBy(col("doc_id"))
  }

  val d92Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH toks AS (
       |  SELECT doc_id, lang, ${bucketSql("w", DsirBuckets)} AS b
       |  FROM (SELECT doc_id, lang, unnest($w) AS w FROM documents)),
       |raw AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS ct FROM toks
       |        WHERE lang = 'en' GROUP BY b),
       |tot AS (
       |  SELECT (SELECT SUM(cr) FROM raw) AS tr,
       |         (SELECT SUM(ct) FROM tgt) AS tt),
       |lr AS (
       |  SELECT raw.b, CAST(FLOOR($LrScale.0 * ln(
       |      CAST((COALESCE(ct, 0) + 1) * (tr + $DsirBuckets)
       |        AS DOUBLE)
       |      / CAST((cr + 1) * (tt + $DsirBuckets) AS DOUBLE)))
       |    AS BIGINT) AS lr_micro
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(lr_micro) AS BIGINT) AS score_micro,
       |    CAST(FLOOR(CAST(CAST(SUM(lr_micro) AS BIGINT) AS DOUBLE)
       |      / COUNT(*)) AS BIGINT) AS spw
       |  FROM toks JOIN lr USING (b)
       |  GROUP BY doc_id),
       |thr AS (
       |  SELECT CAST(quantile_disc(spw, 0.8) AS BIGINT) AS thr
       |  FROM scored)
       |SELECT doc_id, n_words, score_micro, spw AS spw_micro,
       |  CAST(CAST(spw >= thr AS INT) AS BIGINT) AS selected
       |FROM scored CROSS JOIN thr
       |ORDER BY doc_id""".stripMargin
  }

  /** Winnowing parameters (Schleimer–Wilkerson–Aiken, SIGMOD'03):
    * char [[GramK]]-grams, window of [[WinW]] consecutive gram
    * hashes — guarantees every exact match of length
    * ≥ GramK + WinW - 1 chars shares a fingerprint. */
  val GramK = 8
  val WinW = 4

  /** Gram hashes live in [0, 2^30); positions in [1, 2^20) — the
    * combined (hash, reversed-pos) key packs into one long < 2^50 so
    * a window MIN implements "smallest hash, RIGHTMOST on ties", the
    * paper's tie rule, in pure integer arithmetic. */
  val HashSpace = 1L << 30
  val PosSpace = 1L << 20

  /** Cap the scanned text so positions stay inside [[PosSpace]] and
    * the per-doc gram relation is bounded by construction. */
  val TextCap = 4096

  /** A fingerprint hash shared by more than this many docs is
    * boilerplate — dropped from pair generation (the LSH bucket-cap
    * discipline: hot keys make quadratic pairs). */
  val HotCap = 50

  /** Minimum shared fingerprints for a candidate pair. */
  val MinShared = 2

  /** Containment gate: a pair is a candidate only when the shared
    * fingerprints cover at least this many 256ths of the SMALLER
    * doc's fingerprint set (integer-exact: n_shared·256 ≥ min_fp·128
    * ⇔ ratio ≥ 0.5). Raw co-occurrence counts alone surface common-
    * vocabulary noise — every doc shares a few generic 8-grams. */
  val ContainNum = 128
  val ContainDen = 256

  /** d93: winnowing document fingerprints — the MOSS-style local
    * fingerprinting scheme: hash every char [[GramK]]-gram, slide a
    * [[WinW]]-window over the hash sequence and keep each window's
    * minimum (rightmost on ties), yielding a position-aware
    * fingerprint set with a DETECTION GUARANTEE (any shared substring
    * of length ≥ GramK+WinW-1 is caught) that random sampling lacks.
    * Runs on the planted near-dup corpus; the deliverable reports,
    * per doc, the gram/fingerprint counts and how many OTHER docs
    * share ≥ [[MinShared]] fingerprint hashes (the plagiarism /
    * near-dup candidate signal).
    *
    * Shape at 100 TB: grams explode per doc (bounded by [[TextCap]]),
    * ONE per-doc window pass selects fingerprints (partitioned by
    * doc — parallelism grows with the corpus), and candidate pairs
    * come from an equi-join on fingerprint hash with hot hashes
    * capped at [[HotCap]] docs — banded candidate generation, nothing
    * all-pairs. */
  def d93Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val base = Dedup.corpusWithPlants(spark, dir)
      .select(col("doc_id"),
        substring(trim(col("text")), 1, TextCap).as("t"))
      .withColumn("np",
        (length(col("t")) - GramK + 1).cast("long"))
      .filter(col("np") >= 1)
    // NOTE (r16): an in-row ARRAY rewrite of this stage (per-doc
    // transform + sliding slice/array_min instead of explode +
    // window) was tried and REVERTED — higher-order functions run
    // interpreted, outside whole-stage codegen, and measured 10-14 s
    // against the exploded form's 7 s at sf0.1 (and a collapsed-
    // projection variant re-evaluated the md5 array per window
    // position: 372 s at sf0.01). r17 replaces BOTH forms with one
    // codegen'd KERNEL call per doc (guide §1.2 step 2 — per-task
    // work — after r16 fixed the job shape): WinnowKernel feeds each
    // gram's UTF-8 byte range straight into a thread-local
    // MessageDigest and reads conv(md5-hex-prefix) as the first 4
    // digest bytes, so the np explode rows, the per-gram hex/conv
    // strings and the per-doc window exchange+sort all disappear
    // while every fingerprint value stays BIT-IDENTICAL to the
    // expression chain (WinnowKernelSpec pins the equivalence on the
    // real corpus; the DuckDB oracle is untouched).
    //
    // fp feeds per-doc stats, the hash side (twice, via the pair
    // self-join) and the final report join — six consumers, each of
    // which would otherwise re-execute the per-gram md5 subtree
    // above (the r16 plan audit read 52 scans / 26 windows in the
    // initial plan). One eager checkpoint of the small
    // (doc_id, np, fph) relation caps the md5 work at one pass
    // (guide §3.3); rows identical, oracle hash unchanged.
    val fp = Pins.checkpoint(base
      .select(col("doc_id"), col("np"),
        explode(graft.functions.WinnowKernel.fingerprintsCol(
          col("t"), GramK, WinW, HashSpace, PosSpace)).as("fph")))
    val perDoc = fp.groupBy(col("doc_id"))
      .agg(max(col("np")).as("n_grams"), count(lit(1)).as("n_fp"))
    val hashes = fp.select(col("doc_id"), col("fph")).distinct()
    val cool = hashes.groupBy(col("fph"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") <= HotCap)
      .select(col("fph"))
    val cooled = hashes.join(cool.hint("shuffle_hash"), Seq("fph"))
    val nfp = perDoc.select(col("doc_id"), col("n_fp"))
    // the self-join side is aggregate-derived and corpus-scaling —
    // meet in fph buckets via a shuffled build, never a broadcast
    val pairs = cooled.as("a")
      .join(cooled.as("b").hint("shuffle_hash"),
        col("a.fph") === col("b.fph")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .join(nfp.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("n_fp", "fa").hint("shuffle_hash"), Seq("da"))
      .join(nfp.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("n_fp", "fb").hint("shuffle_hash"), Seq("db"))
      // integer containment gate: shared/min(fp) >= Num/Den
      .filter(col("n_shared") * ContainDen
        >= least(col("fa"), col("fb")) * ContainNum)
    val partners = pairs.select(col("da").as("doc_id"))
      .unionAll(pairs.select(col("db").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_candidates"))
    // partners is aggregate-derived and corpus-scaling — shuffled build
    perDoc.join(partners.hint("shuffle_hash"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .select(col("doc_id"), col("n_grams"), col("n_fp"),
        col("n_candidates"))
      .orderBy(col("doc_id"))
  }

  val d93Sql: String =
    s"""WITH corpus AS (${Dedup.corpusSql}),
       |base AS (
       |  SELECT doc_id, substring(trim(text), 1, $TextCap) AS t,
       |    CAST(length(substring(trim(text), 1, $TextCap))
       |      - $GramK + 1 AS BIGINT) AS np
       |  FROM corpus
       |  WHERE length(substring(trim(text), 1, $TextCap))
       |    >= $GramK),
       |grams AS (
       |  SELECT doc_id, np, p,
       |    (${bucketSql(s"substring(t, CAST(p AS INT), $GramK)",
              HashSpace)})
       |      * $PosSpace + ($PosSpace - p) AS combined
       |  FROM (SELECT doc_id, np, t, unnest(generate_series(1, np))
       |          AS p
       |        FROM base)),
       |sel AS (
       |  SELECT doc_id, np, p,
       |    MIN(combined) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING)
       |      AS s
       |  FROM grams),
       |fp AS (
       |  SELECT DISTINCT doc_id, np, s // $PosSpace AS fph
       |  FROM sel WHERE p <= GREATEST(np - ${WinW - 1}, 1)),
       |per_doc AS (
       |  SELECT doc_id, MAX(np) AS n_grams, COUNT(*) AS n_fp
       |  FROM fp GROUP BY doc_id),
       |hashes AS (SELECT DISTINCT doc_id, fph FROM fp),
       |cool AS (
       |  SELECT fph FROM hashes GROUP BY fph
       |  HAVING COUNT(*) <= $HotCap),
       |cooled AS (SELECT h.* FROM hashes h JOIN cool USING (fph)),
       |rawpairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |    COUNT(*) AS n_shared
       |  FROM cooled a JOIN cooled b
       |    ON a.fph = b.fph AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
       |pairs AS (
       |  SELECT da, db, n_shared
       |  FROM rawpairs r
       |  JOIN per_doc pa ON pa.doc_id = r.da
       |  JOIN per_doc pb ON pb.doc_id = r.db
       |  WHERE n_shared * $ContainDen
       |    >= LEAST(pa.n_fp, pb.n_fp) * $ContainNum),
       |partners AS (
       |  SELECT doc_id, COUNT(*) AS n_candidates FROM (
       |    SELECT da AS doc_id FROM pairs
       |    UNION ALL SELECT db AS doc_id FROM pairs)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, d.n_grams, d.n_fp,
       |  COALESCE(p.n_candidates, 0) AS n_candidates
       |FROM per_doc d LEFT JOIN partners p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("d92_dsir", d92Dsir, d92Sql),
    Op("d93_winnowing", d93Winnowing, d93Sql))
}
