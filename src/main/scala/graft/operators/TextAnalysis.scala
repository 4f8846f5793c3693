package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Text analysis operators (SURVEY.md §2d): language id, quality
  * scoring, token counting, fingerprinting. Pure Column compositions
  * (codegen'd); the fingerprint is a native Catalyst expression.
  */
object TextAnalysis {

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private val stopListSql =
    EnStopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  /** t01: n-gram/stopword language heuristic. The per-word counts
    * come from the one-pass WordStats kernel — the interpreted HOF
    * fold this replaces was the per-token hot-loop scale risk. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("n_words", col("st.n_words"))
      .withColumn("en_hits", col("st.stop_hits"))
      .withColumn("en_ratio",
        round(col("en_hits").cast("double") / col("n_words"), 6))
      .withColumn("pred_lang",
        when(col("en_ratio") >= 0.05, lit("en")).otherwise(lit("other")))
      .select(col("doc_id"), col("n_words"), col("en_hits"),
        col("en_ratio"), col("pred_lang"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val w = TextFunctions.wordsSql
    s"""SELECT doc_id, CAST(len($w) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform($w,
       |    w -> CASE WHEN w IN $stopListSql THEN 1 ELSE 0 END))
       |    AS BIGINT) AS en_hits,
       |  ROUND(CAST(list_sum(list_transform($w,
       |    w -> CASE WHEN w IN $stopListSql THEN 1 ELSE 0 END))
       |    AS DOUBLE) / len($w), 6) AS en_ratio,
       |  CASE WHEN CAST(list_sum(list_transform($w,
       |    w -> CASE WHEN w IN $stopListSql THEN 1 ELSE 0 END))
       |    AS DOUBLE) / len($w) >= 0.05
       |    THEN 'en' ELSE 'other' END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t02: quality scoring — length, alphabetic ratio, mean word
    * length, composite score. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("n_chars", length(trim(col("text"))).cast("long"))
      .withColumn("n_words", col("st.n_words"))
      .withColumn("alpha_ratio", round(
        length(regexp_replace(trim(col("text")), "[^a-z]", ""))
          .cast("double") / col("n_chars"), 6))
      .withColumn("avg_word_len", round(
        col("st.len_sum").cast("double") / col("n_words"), 6))
      .withColumn("quality", round(
        least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.5 +
          col("alpha_ratio") * 0.3 +
          when(col("avg_word_len").between(3.0, 8.0), 0.2).otherwise(0.0), 6))
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        col("alpha_ratio"), col("avg_word_len"), col("quality"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = {
    val w = TextFunctions.wordsSql
    s"""SELECT doc_id, n_chars, n_words, alpha_ratio, avg_word_len,
       |  ROUND(LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
       |    + alpha_ratio * 0.3
       |    + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0
       |        THEN 0.2 ELSE 0.0 END, 6) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(trim(text)) AS BIGINT) AS n_chars,
       |    CAST(len($w) AS BIGINT) AS n_words,
       |    ROUND(CAST(length(regexp_replace(trim(text), '[^a-z]', '', 'g'))
       |      AS DOUBLE) / length(trim(text)), 6) AS alpha_ratio,
       |    ROUND(CAST(list_sum(list_transform($w, x -> length(x)))
       |      AS DOUBLE) / len($w), 6) AS avg_word_len
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** t03: token counting — whitespace tokens and a BPE-ish estimate
    * (⌈len/4⌉ subword pieces per word). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("tokens_ws", col("st.n_words"))
      .withColumn("tokens_bpe", col("st.bpe_sum"))
      .withColumn("chars_per_token", round(
        length(trim(col("text"))).cast("double") / col("tokens_bpe"), 6))
      .select(col("doc_id"), col("tokens_ws"), col("tokens_bpe"),
        col("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val tokenCountSql: String = {
    val w = TextFunctions.wordsSql
    s"""SELECT doc_id, CAST(len($w) AS BIGINT) AS tokens_ws,
       |  CAST(list_sum(list_transform($w,
       |    x -> CAST(CEIL(length(x) / 4.0) AS BIGINT))) AS BIGINT)
       |    AS tokens_bpe,
       |  ROUND(CAST(length(trim(text)) AS DOUBLE)
       |    / list_sum(list_transform($w,
       |      x -> CAST(CEIL(length(x) / 4.0) AS BIGINT))), 6)
       |    AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** t04: document fingerprint — rolling polynomial hash over UTF-8
    * bytes as a codegen'd Catalyst expression. */
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.fingerprint(trim(col("text"))).as("fp"))
      .orderBy(col("doc_id"))

  /** Oracle mirrors the byte-fold exactly (ASCII corpus ⇒ ascii() ==
    * utf-8 byte). */
  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(1, length(trim(text))),
      |      i -> CAST(ascii(substr(trim(text), i, 1)) AS BIGINT))),
      |    (acc, b) -> (acc * 131 + b) % 2147483647) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t06: repetition scoring — the Gopher-style quality signals for
    * machine-generated/boilerplate text: fraction of duplicated
    * bigrams and the share of the single most frequent word. Exact
    * integer counts + one double division, so no rounding is needed
    * for the oracle. */
  def t06Repetition(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextFunctions.words(col("text"))
    val docs = Tables.load(spark, dir, "documents")
    val words = docs.select(col("doc_id"), explode(ws).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), max(col("c")).as("max_word"))
      .select(col("doc_id"), col("n_words"),
        (col("max_word").cast("double") / col("n_words"))
          .as("top_word_ratio"))
    // zero-copy bigram kernel (each bigram wraps a byte range of the
    // source text) instead of the interpreted transform/element_at HOF
    val bg = docs.select(col("doc_id"),
      TextFunctions.bigrams(col("text")).as("bg"))
      .select(col("doc_id"), size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          (col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams")).otherwise(lit(0.0))
          .as("dup_bigram_ratio"))
    words.join(bg, "doc_id")
      .select(col("doc_id"), col("n_words"), col("top_word_ratio"),
        col("n_bigrams"), col("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH wc AS (
       |  SELECT doc_id, word, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest($w) AS word FROM documents)
       |  GROUP BY 1, 2),
       |words AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_ratio
       |  FROM wc GROUP BY doc_id),
       |bgl AS (
       |  SELECT doc_id, CASE WHEN len($w) >= 2 THEN
       |      list_transform(generate_series(1, len($w) - 1),
       |        i -> $w[i] || ' ' || $w[i+1])
       |    ELSE [] END AS bg
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
       |    CASE WHEN len(bg) > 0 THEN
       |      CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
       |    ELSE 0.0 END AS dup_bigram_ratio
       |  FROM bgl)
       |SELECT words.doc_id, n_words, top_word_ratio, n_bigrams,
       |  dup_bigram_ratio
       |FROM words JOIN bg ON words.doc_id = bg.doc_id
       |ORDER BY words.doc_id""".stripMargin
  }

  /** t07: text normalization — the canonicalization pass that runs
    * BEFORE hashing/dedup (lowercase, strip punctuation, collapse
    * whitespace): without it near-dup recall collapses on trivially
    * reformatted copies. Emits the normalized text plus its
    * fingerprint so the effect is visible (docs differing only in
    * case/punctuation now share norm_fp). */
  def t07Normalize(spark: SparkSession, dir: String): DataFrame =
    // one codegen'd byte scan replaces the two regexp_replace passes
    // + separate length/fingerprint walks (measured 31 s → kernel at
    // the 100× sf10 corpus); KernelPropertySpec pins equivalence to
    // the regex formulation
    Tables.load(spark, dir, "documents")
      .withColumn("ns", TextFunctions.normStats(col("text")))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("raw_len"),
        col("ns.norm_len").as("norm_len"),
        col("ns.norm_fp").as("norm_fp"))
      .orderBy(col("doc_id"))

  val normalizeSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS raw_len,
      |  CAST(length(n) AS BIGINT) AS norm_len,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(
      |      generate_series(1, length(n)),
      |      i -> CAST(ascii(substr(n, i, 1)) AS BIGINT))),
      |    (acc, b) -> (acc * 131 + b) % 2147483647) AS norm_fp
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** t05: top bigrams per language — n-gram frequency tables are the
    * vocabulary-analysis primitive; explode + one (lang, bigram)
    * aggregate, then top-5 per language via the bounded-heap TopK
    * aggregator. The former `row_number over (partition by lang)`
    * sorted the ENTIRE (lang, bigram, n) relation inside a handful
    * of lang partitions — a skewed low-cardinality window that dies
    * at 100× scale; the heap ships ≤5 rows per lang per partition
    * through the shuffle instead. Bigrams come from the zero-copy
    * kernel rather than an interpreted HOF. */
  def t05BigramFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(TextFunctions.bigrams(col("text")))
        .as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val agg = new TopK.TopKStrAgg(5)
    counts
      .select(col("lang"),
        struct(col("n").as("score"), col("bigram").as("tag")).as("e"))
      .as[(String, TopK.SEntry)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("top"))
      .toDF("lang", "top")
      .select(col("lang"), posexplode(col("top.entries")))
      .select(col("lang"), (col("pos") + 1).as("rank"),
        col("col.tag").as("bigram"), col("col.score").as("n"))
      .orderBy(col("lang"), col("rank"))
  }

  val bigramFreqSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH bg AS (
       |  SELECT lang, unnest(CASE WHEN len($w) >= 2 THEN
       |    list_transform(generate_series(1, len($w) - 1),
       |      i -> $w[i] || ' ' || $w[i+1])
       |    ELSE [] END) AS bigram
       |  FROM documents),
       |c AS (
       |  SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, bigram, n, ROW_NUMBER() OVER (
       |    PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rank
       |  FROM c)
       |SELECT lang, rank, bigram, n FROM r WHERE rank <= 5
       |ORDER BY lang, rank""".stripMargin
  }

  /** Benchmark set for d13: the first [[EvalDocs]] doc_ids stand in
    * for an eval/benchmark corpus; everything else is "training
    * data" to be screened against it. */
  val EvalDocs = 20

  /** Overlap n-gram size. 4 words is long enough that chance
    * collisions are rare but boilerplate/verbatim reuse still hits. */
  val ContamN = 4

  /** d13: train/eval DECONTAMINATION — the pipeline step that keeps
    * benchmark text out of the training corpus. Every distinct word
    * 4-gram of the (small, by construction) eval set broadcasts;
    * training docs match by n-gram equi-join — the big side never
    * shuffles for the join, and the n-gram arrays come from the
    * zero-copy WordNgrams kernel, not an interpreted HOF. Output:
    * each contaminated doc with its count of distinct shared 4-grams
    * (the triage score deciding drop vs manual review). */
  def d13Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val grams = explode(
      array_distinct(TextFunctions.wordNgrams(col("text"), ContamN)))
    val bench = docs.filter(col("doc_id") < EvalDocs)
      .select(grams.as("gram")).distinct()
    val train = docs.filter(col("doc_id") >= EvalDocs)
      .select(col("doc_id"), grams.as("gram"))
    train.join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String = {
    val w = TextFunctions.wordsSql
    val parts = (0 until ContamN)
      .map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (
       |  SELECT doc_id, $w AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $ContamN THEN
       |    list_distinct(list_transform(
       |      generate_series(1, len(ws) - ${ContamN - 1}),
       |      i -> $parts))
       |    ELSE [] END) AS gram
       |  FROM w),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < $EvalDocs),
       |train AS (SELECT doc_id, gram FROM g WHERE doc_id >= $EvalDocs)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM train JOIN bench USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t08: PII scrubbing -------------------------------------------

  /** Patterns are deliberately RE2-compatible (no backreferences, no
    * lookaround): the DuckDB oracle and any RE2-based engine run the
    * SAME expressions, and RE2's linear-time guarantee is what you
    * want against adversarial inputs at 100 TB anyway. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Credit-card candidate: a word-bounded 13-16 digit run (PAN
    * lengths). A run is only REDACTED/counted when its Luhn checksum
    * holds ([[luhnValid]]) — the check every real PII pass runs,
    * because 13-digit runs that aren't card numbers (ids, hashes)
    * are common and over-redaction destroys training data. */
  val CcRe = "\\b[0-9]{13,16}\\b"

  /** National-ID pattern (SSN shape: AAA-GG-SSSS, word-bounded). */
  val NatIdRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** Luhn checksum validity of a digit-string column — a pure
    * codegen'd higher-order expression (no UDF): double every second
    * digit from the right, fold >9 to digit-sum, total ≡ 0 (mod 10).
    * Identical CASE arithmetic replays in the DuckDB oracle. */
  def luhnValid(s: Column): Column = {
    val n = length(s)
    val total = aggregate(
      transform(sequence(lit(1), n), i => {
        val d = ascii(s.substr(i, lit(1))) - lit(48)
        when((n - i) % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
          .otherwise(d)
      }), lit(0), (a, x) => a + x)
    total % 10 === 0
  }

  /** Luhn-valid card candidates in `text`, in match order. */
  private def ccValid(text: Column): Column =
    filter(regexp_extract_all(text, lit(CcRe), lit(0)), luhnValid(_))

  /** Redact every Luhn-valid card run: fold the (word-bounded,
    * digits-only — no metachar escaping needed) matches through
    * regexp_replace. Matches can't nest (a 13-16 digit run inside a
    * longer run has no word boundary), so the fold order can't
    * change the result. */
  private def ccScrub(text: Column): Column =
    aggregate(ccValid(text), text, (acc, cc) =>
      regexp_replace(acc, concat(lit("\\b"), cc, lit("\\b")),
        lit("<CC>")))

  /** Redaction composes email -> ip -> phone -> card -> national-id;
    * an IP inside an email is consumed by the email token before the
    * IP pass sees it, and a card-length digit run inside a redacted
    * phone is already gone when the card pass runs. Each pattern
    * hides behind a literal-scan guard (the RE2 prefilter idea): an
    * email needs '@', a phone needs '+', an IP needs a digit, a card
    * needs 13 consecutive digits, an SSN needs a '-' —
    * `contains`/a one-char-class rlike are single codegen'd byte
    * scans, orders of magnitude cheaper than the full pattern, so
    * clean documents (the overwhelming majority of any corpus) never
    * enter the regex engines at all. Semantics are unchanged: a
    * guarded-out document cannot contain a match. */
  def piiScrub(text: Column): Column = {
    val afterEmail = when(text.contains("@"),
      regexp_replace(text, EmailRe, "<EMAIL>")).otherwise(text)
    val afterIp = when(afterEmail.rlike("[0-9]"),
      regexp_replace(afterEmail, IpRe, "<IP>")).otherwise(afterEmail)
    val afterPhone = when(afterIp.contains("+"),
      regexp_replace(afterIp, PhoneRe, "<PHONE>")).otherwise(afterIp)
    val afterCc = when(afterPhone.rlike("[0-9]{13}"),
      ccScrub(afterPhone)).otherwise(afterPhone)
    when(afterCc.contains("-"),
      regexp_replace(afterCc, NatIdRe, "<ID>")).otherwise(afterCc)
  }

  /** Guarded match count (same prefilter as [[piiScrub]]). */
  private def guardedCount(text: Column, guard: Column => Column,
      re: String): Column =
    when(guard(text), regexp_count(text, lit(re)))
      .otherwise(lit(0)).cast("long")

  /** t08: PII scrubbing — the redaction pass every crawl corpus runs
    * before training. Counts are per-pattern over the ORIGINAL text
    * (independent audit metrics); `clean` is the redacted text. Pure
    * codegen'd regexp kernels, embarrassingly parallel — no shuffle
    * at any scale. The synthetic corpus contains no PII (all counts
    * 0 — the oracle still pins the full counting + rewrite frame);
    * planted-PII behavior is pinned by PipelineSpec. */
  def t08PiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        guardedCount(col("text"), _.contains("@"), EmailRe)
          .as("n_emails"),
        guardedCount(col("text"), _.rlike("[0-9]"), IpRe).as("n_ips"),
        guardedCount(col("text"), _.contains("+"), PhoneRe)
          .as("n_phones"),
        when(col("text").rlike("[0-9]{13}"),
          size(ccValid(col("text")))).otherwise(lit(0)).cast("long")
          .as("n_cards"),
        guardedCount(col("text"), _.contains("-"), NatIdRe)
          .as("n_natids"),
        piiScrub(col("text")).as("clean"))
      .orderBy(col("doc_id"))

  /** The Luhn CASE arithmetic, DuckDB list form (shared shape with
    * [[luhnValid]] — same digits, same fold, same modulus). */
  private def luhnSql(v: String): String = {
    val d = s"ascii(substring($v, i, 1)) - 48"
    s"""list_sum(list_transform(generate_series(1, length($v)),
       |    i -> CASE WHEN (length($v) - i) % 2 = 1
       |      THEN CASE WHEN 2 * ($d) > 9
       |        THEN 2 * ($d) - 9 ELSE 2 * ($d) END
       |      ELSE $d END)) % 10 = 0""".stripMargin
  }

  val piiScrubSql: String =
    s"""WITH s1 AS (
       |  SELECT doc_id, text,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$IpRe', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS c3
       |  FROM documents),
       |s2 AS (
       |  SELECT doc_id, text,
       |    list_reduce(list_prepend(c3,
       |      list_filter(regexp_extract_all(c3, '$CcRe'),
       |        x -> ${luhnSql("x")})),
       |      (t, cc) -> regexp_replace(t, '\\b' || cc || '\\b',
       |        '<CC>', 'g')) AS c4
       |  FROM s1)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT)
       |    AS n_ips,
       |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT)
       |    AS n_phones,
       |  CAST(len(list_filter(regexp_extract_all(text, '$CcRe'),
       |    x -> ${luhnSql("x")})) AS BIGINT) AS n_cards,
       |  CAST(len(regexp_extract_all(text, '$NatIdRe')) AS BIGINT)
       |    AS n_natids,
       |  regexp_replace(c4, '$NatIdRe', '<ID>', 'g') AS clean
       |FROM s2 ORDER BY doc_id""".stripMargin

  // ---- t09: corpus-statistics quality (common-word ratio) -----------

  /** Head-vocabulary size for t09. A fixed top-K (not a frequency
    * threshold) keeps the semantics scale-invariant: the head of a
    * Zipfian vocabulary is bounded, so the broadcast side stays tiny
    * at any corpus size. */
  val CommonK = 20

  /** t09: CCNet-shape quality scoring from corpus statistics — pass 1
    * computes global word frequencies (map-side partial aggregation
    * absorbs the Zipf head, so "the" never concentrates a shuffle
    * partition), pass 2 broadcasts the top-K head back and scores
    * each document by the share of its tokens drawn from it (a
    * perplexity proxy: gibberish and boilerplate both sit in the
    * tails). Exact integer counts + one division — oracle-stable. */
  def t09CommonRatio(spark: SparkSession, dir: String): DataFrame =
    commonRatio(Tables.load(spark, dir, "documents"))

  /** Core of t09 on any (doc_id, text) relation. */
  def commonRatio(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(split(trim(col("text")), " ")).as("w"))
    val common = words.groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(CommonK)
      .select(col("w"), lit(1).as("is_common"))
    words.join(broadcast(common), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("is_common"), lit(0))).cast("long")
          .as("n_common"))
      .withColumn("common_ratio",
        round(col("n_common").cast("double") / col("n_words"), 6))
      .orderBy(col("doc_id"))
  }

  val commonRatioSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH w AS (
       |  SELECT doc_id, unnest($w) AS w FROM documents),
       |common AS (
       |  SELECT w FROM (SELECT w, count(*) AS cnt FROM w GROUP BY w)
       |  ORDER BY cnt DESC, w LIMIT $CommonK)
       |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN c.w IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  ROUND(CAST(sum(CASE WHEN c.w IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS common_ratio
       |FROM w LEFT JOIN common c ON w.w = c.w
       |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t10: heavy hitters (Misra-Gries sketch) ----------------------

  val HitterCapacity = 64
  val HitterTopK = 20

  /** t10: top words by a Misra-Gries heavy-hitters sketch — the
    * frequency-table path that never shuffles a vocabulary: each
    * partition ships a <=64-entry mergeable summary. On this corpus
    * (vocabulary < capacity) the sketch is provably exact, so a
    * plain SQL word count is a valid oracle; the over-capacity
    * approximation guarantee (every word with freq > n/(c+1)
    * survives, undercount <= n/(c+1)) is pinned by KernelPropertySpec
    * on an adversarial corpus. */
  def t10HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HeavyHitters
    Tables.load(spark, dir, "documents")
      .select(explode(split(trim(col("text")), " ")).as("w"))
      .agg(HeavyHitters.heavyHitters(HitterCapacity)(col("w"))
        .as("hits"))
      .select(explode(col("hits")).as("h"))
      .select(col("h.word").as("word"), col("h.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(HitterTopK)
  }

  val heavyHittersSql: String = {
    val w = TextFunctions.wordsSql
    s"""SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
       |FROM (SELECT unnest($w) AS w FROM documents)
       |GROUP BY w ORDER BY cnt DESC, word LIMIT $HitterTopK""".stripMargin
  }

  // ---- d16: boilerplate (repeated cross-document n-grams) -----------

  val BoilerN = 3
  val BoilerMinDocs = 3

  /** d16: boilerplate scoring — the C4-style signal for template/
    * navigation text: the share of a document's distinct word
    * trigrams that also occur in >= [[BoilerMinDocs]] documents
    * corpus-wide. Pass 1 counts documents per gram (grams are
    * per-doc distinct, so count(*) IS the doc count); pass 2 flags
    * each doc's grams against the common set by EQUI-join (the
    * boilerplate relation is data-dependent, so no broadcast
    * assumption) and aggregates the ratio. N-gram arrays come from
    * the zero-copy WordNgrams kernel. */
  def d16Boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerRatio(Tables.load(spark, dir, "documents"))

  /** Core of d16 on any (doc_id, text) relation. */
  def boilerRatio(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), explode(array_distinct(
      TextFunctions.wordNgrams(col("text"), BoilerN))).as("gram"))
    val common = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .select(col("gram"), lit(1).as("is_b"))
    // the common-gram relation scales with corpus vocabulary and has
    // no post-aggregation stats — unhinted, Catalyst broadcasts it
    // (fine at sf0.01, fatal at corpus scale); force the shuffled
    // build the scaladoc promises
    grams.join(common.hint("shuffle_hash"), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_b"), lit(0))).cast("long").as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  val boilerplateSql: String = {
    val w = TextFunctions.wordsSql
    val parts = (0 until BoilerN)
      .map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (
       |  SELECT doc_id, $w AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $BoilerN THEN
       |    list_distinct(list_transform(
       |      generate_series(1, len(ws) - ${BoilerN - 1}),
       |      i -> $parts))
       |    ELSE [] END) AS gram
       |  FROM w),
       |common AS (
       |  SELECT gram FROM g GROUP BY gram
       |  HAVING count(*) >= $BoilerMinDocs)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_boiler,
       |  ROUND(CAST(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS boiler_ratio
       |FROM g LEFT JOIN common c ON g.gram = c.gram
       |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t11: boilerplate STRIP (rewrite, not score) ------------------

  /** t11: boilerplate removal — d16 scores template text; this
    * actually rewrites the corpus without it (the C4 cleaning step: a
    * word survives unless some cross-document-common trigram covers
    * its position). Two narrow shuffles at any scale: the per-gram
    * doc count (map-side combined) and the per-doc reassembly; the
    * gram relation carries (doc_id, position, gram) only, and the
    * covered-position set re-meets the tokens by (doc_id, pos)
    * equi-anti-join. Reassembly sorts each doc's surviving words
    * in-memory — bounded by document length, never by corpus size. */
  def t11BoilerStrip(spark: SparkSession, dir: String): DataFrame =
    boilerStrip(Tables.load(spark, dir, "documents"))

  /** Core of t11 on any (doc_id, text) relation.
    *
    * Every aggregate-derived relation here (common grams, covered
    * positions, rebuilt docs) scales WITH the corpus, but Catalyst
    * has no stats for post-aggregation outputs and would happily
    * broadcast them (measured: the covered-positions broadcast made
    * the sf1 run 12× the sf0.1 one; at real scale it OOMs the
    * driver). The shuffle_hash hints pin every such join to a
    * shuffled build — size-robust by construction. */
  def boilerStrip(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      posexplode(split(trim(col("text")), " ")).as(Seq("pos", "word")))
    val grams = docs.select(col("doc_id"),
      posexplode(TextFunctions.wordNgrams(col("text"), BoilerN))
        .as(Seq("gpos", "gram")))
    // doc-frequency over per-doc-DISTINCT grams, as in d16
    val common = grams.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .select(col("gram"))
    val covered = grams.join(common.hint("shuffle_hash"), Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + BoilerN - 1))
          .as("pos"))
      .distinct()
    val kept = words.join(covered.hint("shuffle_hash"),
      Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word"))).as("clean_text"))
    docs.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_words"))
      .join(rebuilt.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val boilerStripSql: String = {
    val w = TextFunctions.wordsSql
    val parts = (0 until BoilerN)
      .map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (
       |  SELECT doc_id, $w AS ws FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ws) AS word,
       |    unnest(generate_series(1, len(ws))) AS pos FROM w),
       |g AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(ws) >= $BoilerN THEN
       |      list_transform(generate_series(1, len(ws) - ${BoilerN - 1}),
       |        i -> $parts) ELSE [] END) AS gram,
       |    unnest(CASE WHEN len(ws) >= $BoilerN THEN
       |      generate_series(1, len(ws) - ${BoilerN - 1})
       |      ELSE [] END) AS gpos
       |  FROM w),
       |common AS (
       |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
       |  GROUP BY gram HAVING count(*) >= $BoilerMinDocs),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT g.doc_id,
       |      unnest(generate_series(g.gpos, g.gpos + ${BoilerN - 1}))
       |        AS pos
       |    FROM g JOIN common c ON g.gram = c.gram)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.word FROM tok t
       |  LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
       |  WHERE cov.pos IS NULL),
       |rebuilt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(word, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |  COALESCE(r.n_kept, 0) AS n_kept,
       |  COALESCE(r.clean_text, '') AS clean_text
       |FROM w LEFT JOIN rebuilt r ON w.doc_id = r.doc_id
       |ORDER BY w.doc_id""".stripMargin
  }

  /** t18: language-ID confusion matrix — t01's predictor audited
    * against the corpus's own language LABELS: per (label, predicted)
    * cell, the document count and its share of the label's total.
    * The classifier-QA report every labeled-corpus pipeline runs
    * before trusting a filter model in production (is "en"-recall
    * high enough to gate ingest on?).
    *
    * Plan shape: the per-doc prediction rides the one-pass WordStats
    * kernel (no second scan), one (label, pred) count aggregate
    * (map-side combined), and per-label totals re-attach on the
    * |labels|·|preds|-row aggregate output — a tiny
    * aggregate-derived relation, joined SHUFFLED by the t11/d16
    * statless rule even though it would "fit" broadcast at any
    * scale. The share is one BIGINT÷BIGINT IEEE division. */
  def t18LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = Tables.load(spark, dir, "documents")
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("en_ratio",
        col("st.stop_hits").cast("double") / col("st.n_words"))
      .select(col("lang"),
        when(col("en_ratio") >= 0.05, lit("en")).otherwise(lit("other"))
          .as("pred_lang"))
    val cells = pred.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("lang_total"))
    cells.join(totals.hint("shuffle_hash"), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        round(col("n_docs").cast("double")
          / col("lang_total").cast("double"), 6).as("share"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langConfusionSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH pred AS (
       |  SELECT lang,
       |    CASE WHEN CAST(list_sum(list_transform($w,
       |      w -> CASE WHEN w IN $stopListSql THEN 1 ELSE 0 END))
       |      AS DOUBLE) / len($w) >= 0.05
       |      THEN 'en' ELSE 'other' END AS pred_lang
       |  FROM documents),
       |cells AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM pred GROUP BY 1, 2),
       |tot AS (
       |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
       |  FROM cells GROUP BY 1)
       |SELECT cells.lang, pred_lang, n_docs,
       |  ROUND(CAST(n_docs AS DOUBLE) / lang_total, 6) AS share
       |FROM cells JOIN tot ON cells.lang = tot.lang
       |ORDER BY cells.lang, pred_lang""".stripMargin
  }

  /** N-gram order for t19 novelty. */
  val NoveltyN = 3

  /** t19: n-gram novelty scoring — per document, the fraction of its
    * distinct word trigrams that FIRST appear in it (no earlier
    * doc_id contains them): the memorization/data-value signal
    * curriculum and dedup-aggressiveness decisions read (a corpus
    * whose late documents contribute no new n-grams is saturated —
    * more of the same source adds nothing a model hasn't seen).
    *
    * Plan shape at scale: one distinct-gram explode, a gram-keyed
    * min aggregate (map-side combined), and the first-occurrence
    * table re-attached to the gram stream by a SHUFFLED equi-join —
    * it is gram-vocabulary-scale (corpus-sized, statless: the
    * canonical t11/d16 OOM-broadcast candidate), then one per-doc
    * count. Both corpus-wide shuffles hash on `gram`. Docs shorter
    * than [[NoveltyN]] words have no grams and drop out (stated, as
    * in t16's single-word drop). */
  def t19Novelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.wordNgrams(
          col("text"), NoveltyN))).as("gram"))
    val first = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", round(
        col("n_novel").cast("double") / col("n_grams"), 6))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty"))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String = {
    val parts = (0 until NoveltyN)
      .map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $NoveltyN THEN
       |    list_distinct(list_transform(
       |      generate_series(1, len(ws) - ${NoveltyN - 1}),
       |      i -> $parts)) ELSE [] END) AS gram
       |  FROM w),
       |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  ROUND(CAST(sum(CASE WHEN f.first_doc = g.doc_id
       |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
       |FROM g JOIN f USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  }

  /** t20: lexical diversity — per-document type–token ratio and
    * hapax-legomena share: the vocabulary-richness quality features
    * (template spam and keyword stuffing collapse TTR; natural prose
    * holds a characteristic band per length). One (doc_id, word)
    * aggregate (map-side combined) carries both statistics; ratios
    * are single integer÷integer IEEE divisions. */
  def t20LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextFunctions.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        round(col("n_types").cast("double")
          / col("n_words").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double")
          / col("n_types").cast("double"), 6).as("hapax_ratio"))
      .orderBy(col("doc_id"))

  val lexicalDiversitySql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($w) AS word FROM documents),
       |wc AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  ROUND(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS ttr,
       |  ROUND(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS hapax_ratio
       |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** t22: per-source corpus health report — the dashboard a data
    * curator reads before admitting a source into the mixture: volume
    * (docs/chars), language spread, and the intra-source exact-dup
    * share. Two aggregates (one on (source, text) for the dup mass,
    * one on source) joined shuffled on the tiny aggregate outputs
    * (statless rule); the only corpus-scale shuffles hash on their
    * aggregation keys. Every statistic is an exact integer or a
    * single BIGINT÷BIGINT IEEE division. */
  def t22SourceReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val dups = docs.groupBy(col("source"), col("text"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
        .cast("long").as("dup_docs"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .join(dups.hint("shuffle_hash"), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_chars"),
        round(col("total_chars").cast("double")
          / col("n_docs").cast("double"), 6).as("avg_chars"),
        col("dup_docs"),
        round(col("dup_docs").cast("double")
          / col("n_docs").cast("double"), 6).as("dup_ratio"))
      .orderBy(col("source"))
  }

  val t22Sql: String =
    """WITH dup AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
      |      AS dup_docs
      |  FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM documents GROUP BY source, text)
      |  GROUP BY source),
      |base AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |  FROM documents GROUP BY source)
      |SELECT b.source, n_docs, n_langs, total_chars,
      |  ROUND(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
      |  dup_docs,
      |  ROUND(CAST(dup_docs AS DOUBLE) / n_docs, 6) AS dup_ratio
      |FROM base b JOIN dup USING (source) ORDER BY source""".stripMargin

  /** t24: Flesch reading-ease scoring — the classic readability
    * quality gate. Every input to the formula is an exact integer
    * count (non-empty words, sentence-terminator runs, vowel-group
    * syllable estimates), so the score is three literal-coefficient
    * double ops per doc, identical on any engine — no transcendental,
    * no cross-row float sum. One scan, no shuffle (ORDER BY is the
    * output contract). */
  def t24Readability(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("words", split(trim(col("text")), " "))
      .withColumn("n_words",
        expr("size(filter(words, x -> length(x) > 0))").cast("long"))
      .withColumn("n_sents", greatest(
        expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("long"),
        lit(1L)))
      .withColumn("n_syll", expr(
        """aggregate(words, 0L, (a, w) -> a + CASE
          |  WHEN length(w) = 0 THEN 0L
          |  ELSE greatest(CAST(size(regexp_extract_all(w,
          |    '[aeiouyAEIOUY]+', 0)) AS BIGINT), 1L) END)"""
          .stripMargin))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sents"),
        col("n_syll"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / col("n_sents").cast("double"))
          - lit(84.6) * (col("n_syll").cast("double")
            / col("n_words").cast("double")), 6).as("flesch"))
      .orderBy(col("doc_id"))

  /** t25: source-pair vocabulary overlap — the "are these two crawls
    * the same corpus wearing different names" curation view: distinct
    * (source, word) relation, self-joined on WORD (the only
    * corpus-scale shuffle hashes on the word), per-pair shared-type
    * counts, Jaccard against the per-source vocabulary sizes. Output
    * is |sources|²/2 rows; per-word pair fan-out is bounded by the
    * source count (≤ C(|sources|,2) pairs per word), so the join
    * never goes quadratic in the data. All counts exact integers;
    * Jaccard is one BIGINT÷BIGINT division. */
  def t25SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    val sizes = vocab.groupBy(col("source"))
      .agg(count(lit(1)).as("v"))
    val a = vocab.select(col("source").as("s1"), col("word"))
    val b = vocab.select(col("source").as("s2"), col("word"))
    // both sides are the vocabulary-scale distinct output (statless —
    // Catalyst would guess small and broadcast); force the shuffled
    // build, hashing on word
    a.join(b.hint("shuffle_hash"), Seq("word"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.hint("shuffle_hash")
        .select(col("source").as("s1"), col("v").as("v1")), Seq("s1"))
      .join(sizes.hint("shuffle_hash")
        .select(col("source").as("s2"), col("v").as("v2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("shared"), col("v1"), col("v2"),
        round(col("shared").cast("double")
          / (col("v1") + col("v2") - col("shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  val t25Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH vocab AS (
       |  SELECT DISTINCT source, word FROM (
       |    SELECT source, unnest($w) AS word FROM documents)
       |  WHERE length(word) > 0),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS v
       |  FROM vocab GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |    CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM vocab a JOIN vocab b ON a.word = b.word
       |  WHERE a.source < b.source GROUP BY 1, 2)
       |SELECT s1, s2, shared, x.v AS v1, y.v AS v2,
       |  ROUND(CAST(shared AS DOUBLE) / (x.v + y.v - shared), 6)
       |    AS jaccard
       |FROM pairs JOIN sizes x ON x.source = s1
       |JOIN sizes y ON y.source = s2
       |ORDER BY s1, s2""".stripMargin
  }

  /** t26: character-bigram entropy — the information-theoretic
    * gibberish/spam gate (keyboard mash reads low, natural prose
    * sits in a band, random bytes read high). The t15 transcendental
    * discipline: ln evaluates once per DISTINCT (doc, bigram) pair
    * and quantizes to the 10⁶ grid immediately, so the per-doc sum
    * Σ nᵢ·lnq(n/nᵢ) is exact integer arithmetic; the normalized
    * entropy is one BIGINT÷BIGINT IEEE division.
    *
    * r17 (guide §4 per-task work): the r16 form exploded every bigram
    * through an INTERPRETED `transform` lambda and paid two shuffled
    * aggregates just to count within-doc runs — per-doc state that
    * never needed to leave its row. [[graft.functions.EntropyKernel]]
    * now computes each doc's (n, n_distinct, neg_ln_ni_sum) triple in
    * one codegen'd pass (bit-identical by construction AND by
    * EntropyKernelSpec's corpus pin), so the plan is scan → project →
    * sort: zero aggregate exchanges, no row blowup. `entropy` is
    * ent_num_micro / n rounded half-up in integers, in both engines. */
  def t26CharEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), trim(col("text")).as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"),
        graft.functions.EntropyKernel.bigramStatsCol(col("t")).as("k"))
      .select(col("doc_id"), col("k").getItem(0).as("n"),
        col("k").getItem(1).as("n_distinct"),
        col("k").getItem(2).as("neg_ln_ni_sum"))
      .select(col("doc_id"), col("n").cast("long").as("n_bigrams"),
        col("n_distinct").cast("long").as("n_distinct"),
        // Σ nᵢ·(lnq n − lnq nᵢ) regrouped so BOTH ln args are plain
        // integers (one lnq per doc for n, one per distinct bigram
        // for nᵢ — never a ratio, so the grid quantization is shared
        // exactly by the oracle)
        (col("n").cast("long") *
          round(log(col("n").cast("double")) * lit(1e6), 0).cast("long")
          + col("neg_ln_ni_sum")).as("ent_num_micro"))
      .withColumn("entropy", t26Entropy)
      .orderBy(col("doc_id"))

  /** t26's entropy from its integer numerator: half-up integer division
    * to micro-units, then one exact scale, as `t26Sql` computes it. A
    * final round(double, 6) differs between the engines at an exact
    * half: Spark rounds the shortest decimal form, DuckDB the binary
    * value. */
  def t26Entropy: Column = expr(
    "CAST((2 * ent_num_micro + n_bigrams) div (2 * n_bigrams) AS DOUBLE)") / 1e6

  val t26Sql: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, length(trim(text)) - 1),
      |    i -> substring(trim(text), i, 2))) AS bg
      |  FROM documents WHERE length(trim(text)) >= 2),
      |cnt AS (
      |  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS ni
      |  FROM bg GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(ni) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    CAST(SUM(ni * CAST(ROUND(ln(CAST(ni AS DOUBLE)) * -1000000)
      |      AS BIGINT)) AS BIGINT) AS neg_ln_ni_sum
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n AS n_bigrams, n_distinct,
      |  n * CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
      |    + neg_ln_ni_sum AS ent_num_micro,
      |  CAST((2 * (n * CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000)
      |      AS BIGINT) + neg_ln_ni_sum) + n) // (2 * n) AS DOUBLE)
      |    / 1000000.0 AS entropy
      |FROM agg ORDER BY doc_id""".stripMargin

  val t24Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter($w, x -> length(x) > 0)) AS BIGINT)
       |      AS n_words,
       |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
       |      AS BIGINT), 1) AS n_sents,
       |    CAST(list_sum(list_transform($w, x -> CASE
       |      WHEN length(x) = 0 THEN 0
       |      ELSE GREATEST(len(regexp_extract_all(x,
       |        '[aeiouyAEIOUY]+')), 1) END)) AS BIGINT) AS n_syll
       |  FROM documents)
       |SELECT doc_id, n_words, n_sents, n_syll,
       |  ROUND(206.835
       |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
       |    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
       |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin
  }

  // ---- t27: encoding-artifact (mojibake) gate -----------------------

  /** C0 control characters except tab/newline/CR, plus DEL — the
    * bytes a clean text corpus never contains; their presence means
    * binary contamination or a charset accident upstream. */
  val CtrlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** t27: encoding-artifact detection — the data-quality gate that
    * catches double-decoded UTF-8 (the "Ã©"/"â€™" mojibake families:
    * UTF-8 bytes re-read as Latin-1), U+FFFD replacement characters
    * (a decoder already gave up), and stray control bytes. All four
    * signals are single-pass scans (two regexp counts behind
    * literal-style guards, two replace-length identities) —
    * embarrassingly parallel, no shuffle at any scale, and exact
    * integer counts so the oracle replays them. A corpus admission
    * pipeline drops or re-decodes flagged docs; the synthetic corpus
    * is clean (all zeros — the frame still verifies), planted
    * artifacts are pinned in ScalaTest. */
  def t27Mojibake(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    def occurrences(marker: String): Column =
      ((length(t) - length(expr(
        s"replace(text, '$marker', '')"))) / marker.length).cast("long")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(t.rlike(CtrlRe), regexp_count(t, lit(CtrlRe)))
          .otherwise(lit(0)).cast("long").as("n_ctrl"),
        occurrences("�").as("n_replacement"),
        (occurrences("Ã") + occurrences("â€"))
          .as("n_mojibake"))
      .withColumn("is_suspect",
        (col("n_ctrl") + col("n_replacement") + col("n_mojibake") > 0)
          .cast("int").cast("long"))
      .orderBy(col("doc_id"))
  }

  val t27Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$CtrlRe')) AS BIGINT)
       |    AS n_ctrl,
       |  CAST(length(text) - length(replace(text, '�', ''))
       |    AS BIGINT) AS n_replacement,
       |  CAST((length(text) - length(replace(text, 'Ã', '')))
       |    + (length(text) - length(replace(text, 'â€', ''))) // 2
       |    AS BIGINT) AS n_mojibake,
       |  CAST(CASE WHEN len(regexp_extract_all(text, '$CtrlRe'))
       |      + (length(text) - length(replace(text, '�', '')))
       |      + (length(text) - length(replace(text, 'Ã', '')))
       |      + (length(text) - length(replace(text, 'â€', ''))) // 2
       |      > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_suspect
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t28: tokenizer vocabulary coverage (OOV audit) ---------------

  /** Vocabulary size for the t28 coverage audit. */
  val VocabK = 1000

  /** t28: out-of-vocabulary audit — "how well does a top-[[VocabK]]
    * vocabulary cover each document": the coverage report a tokenizer
    * or embedding-table decision reads before freezing a vocab.
    * Pass 1 is one corpus aggregate (map-side combine absorbs the
    * Zipf head) cut to the top-K by (freq, word) — deterministic
    * ties; pass 2 broadcasts the bounded vocab back and counts OOV
    * tokens per doc (the t09 two-pass shape — the corpus never
    * shuffles on the word key twice). */
  def t28OovAudit(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
    val vocab = words.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(VocabK)
      .select(col("word"), lit(1).as("in_vocab"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .cast("long").as("n_oov"))
      .withColumn("oov_ratio",
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          + lit(0.0))
      .orderBy(col("doc_id"))
  }

  val t28Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text),
       |      '[^a-z]+')) AS word FROM documents)
       |  WHERE length(word) >= 1),
       |vocab AS (
       |  SELECT word FROM (
       |    SELECT word, COUNT(*) AS freq FROM w GROUP BY 1
       |    ORDER BY freq DESC, word LIMIT $VocabK)),
       |j AS (
       |  SELECT w.doc_id,
       |    CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM w LEFT JOIN vocab v ON v.word = w.word)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) + 0.0
       |    AS oov_ratio
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d48: cross-source content contamination matrix ---------------

  /** Fingerprint prefix width for d48: head-of-document identity —
    * the same article re-scraped by two crawls differs in tail
    * boilerplate long before it differs in its opening. */
  val ContamPrefix = 64

  /** d48: cross-source contamination — which source pairs share
    * content (the provenance audit run before mixing corpora:
    * mirrored crawls, re-scraped dumps and vendor overlap all show
    * up here, and double-counted mass skews any mixture weight
    * computed per source). Content identity is the md5 of the first
    * [[ContamPrefix]] chars (head identity survives tail-boilerplate
    * drift, the common cross-crawl shape; exact whole-text identity
    * is d01's job); the relation that shuffles is the NARROW
    * distinct (source, fingerprint) — the self-join meets only
    * within one fingerprint's bucket, bounded by the source count,
    * so there is nothing quadratic in the corpus. */
  def d48SourceContamination(spark: SparkSession, dir: String)
      : DataFrame = {
    val fp = Tables.load(spark, dir, "documents")
      .select(col("source"),
        md5(substring(col("text"), 1, ContamPrefix).cast("binary"))
          .as("fp"))
      .distinct()
    // both sides are aggregate-derived (statless) AND corpus-scaling:
    // unhinted, Catalyst would broadcast one — fine at sf0.01, OOM at
    // 100 TB (the d12 lesson; the global gate catches it)
    fp.as("a").join(fp.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d48Sql: String =
    s"""WITH fp AS (
       |  SELECT DISTINCT source,
       |    md5(substring(text, 1, $ContamPrefix)) AS fp
       |  FROM documents)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*) AS n_shared
       |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** t31: multibyte/encoding-shape audit — the per-source report
    * that sizes tokenizer and storage budgets on mixed-script
    * corpora: UTF-8 byte length vs character length per document
    * (bytes ≥ chars; equality ⇔ pure ASCII), aggregated to docs
    * with any multibyte character, total bytes/chars, and the byte
    * inflation ratio. Complements t27 (mojibake detects BROKEN
    * encodings; this measures legitimate multibyte share). Pure
    * length arithmetic — one scan, one partial-aggregable group, no
    * string materialization beyond the lengths. A clean-ASCII corpus
    * audits at inflation 1.0 — the audit's value is proving it
    * (q76's contract). */
  def t31MultibyteAudit(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "documents")
      .select(col("source"),
        expr("octet_length(text)").cast("long").as("b"),
        length(col("text")).cast("long").as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("b") > col("c")).cast("long")).as("n_multibyte_docs"),
        sum(col("b")).as("total_bytes"),
        sum(col("c")).as("total_chars"))
      .withColumn("inflation",
        round(col("total_bytes").cast("double")
          / col("total_chars"), 6) + lit(0.0))
      .orderBy(col("source"))

  val t31Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN strlen(text) > length(text)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_multibyte_docs,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  ROUND(CAST(SUM(strlen(text)) AS DOUBLE)
      |    / SUM(length(text)), 6) + 0.0 AS inflation
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- t32: per-source KL divergence (domain-shift ranking) ---------

  /** t32: per-source unigram KL divergence against the corpus — the
    * domain-shift ranking a mixture designer reads before weighting
    * sources (d18/d38): KL(source ‖ corpus) = Σ_t p_t·ln(p_t/q_t)
    * with p from the source's unigram distribution, q from the whole
    * corpus. Complements d57's KS drift (one numeric column, two
    * snapshots) with full-vocabulary distributional distance per
    * source.
    *
    * The t15 transcendental discipline throughout: each term's
    * ln argument regroups to a RATIO OF INTEGER PRODUCTS
    * (c_st·N)/(N_s·c_t). Each factor is cast to double BEFORE the
    * multiply — at corpus scale (N ~ 1e13+ tokens) c_st·N as int64
    * would overflow, and ln only needs ~1 ulp on the product, which
    * the double×double form gives identically in Spark and the
    * oracle. Each ln is evaluated once per (source, term) row and
    * quantized to the 10⁶ grid immediately — so the per-source sum
    * Σ c_st·(lnq(c_st·N) − lnq(N_s·c_t)) is exact integer
    * arithmetic and the reported KL is ONE division at the end. Since corpus counts contain the
    * source's own, q_t > 0 wherever p_t > 0 — no smoothing needed.
    * Plan: one token explode, one (source, term) aggregate, a
    * shuffled equi-join against the term-total relation
    * (vocabulary-sized — never broadcast), the |sources|-row and
    * 1-row totals broadcast, one per-source sum. */
  def t32SourceKl(spark: SparkSession, dir: String): DataFrame = {
    // x is a product of two counts, each cast to double first:
    // overflow-free at any corpus scale (see scaladoc)
    def lnq(x: Column): Column =
      round(log(x) * lit(1e6), 0).cast("long")
    def dprod(a: Column, b: Column): Column =
      a.cast("double") * b.cast("double")
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.words(col("text"))).as("term"))
    val cst = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cst"))
    val ns = cst.groupBy(col("source"))
      .agg(sum(col("cst")).cast("long").as("ns"),
        count(lit(1)).as("n_terms"))
    val ct = cst.groupBy(col("term"))
      .agg(sum(col("cst")).cast("long").as("ct"))
    val n = ct.agg(sum(col("ct")).cast("long").as("n"))
    cst
      .join(ct.hint("shuffle_hash"), Seq("term"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("ns"), col("n_terms"),
        (col("cst") *
          (lnq(dprod(col("cst"), col("n")))
            - lnq(dprod(col("ns"), col("ct"))))).as("contrib"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        max(col("n_terms")).as("n_terms"),
        sum(col("contrib")).cast("long").as("kl_num_micros"))
      .withColumn("kl_nats",
        round(col("kl_num_micros").cast("double")
          / col("n_tokens") / 1e6, 6) + lit(0.0))
      .orderBy(col("source"))
  }

  lazy val t32Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH tk AS (
       |  SELECT source, unnest($w) AS term FROM documents),
       |cst AS (
       |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cst
       |  FROM tk GROUP BY 1, 2),
       |ns AS (
       |  SELECT source, CAST(SUM(cst) AS BIGINT) AS ns,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM cst GROUP BY 1),
       |ct AS (
       |  SELECT term, CAST(SUM(cst) AS BIGINT) AS ct
       |  FROM cst GROUP BY 1),
       |n AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM ct),
       |con AS (
       |  SELECT cst.source,
       |    cst.cst * (
       |      CAST(ROUND(ln(CAST(cst.cst AS DOUBLE)
       |        * CAST(n.n AS DOUBLE)) * 1000000) AS BIGINT)
       |      - CAST(ROUND(ln(CAST(ns.ns AS DOUBLE)
       |        * CAST(ct.ct AS DOUBLE)) * 1000000) AS BIGINT))
       |      AS contrib,
       |    ns.ns, ns.n_terms
       |  FROM cst
       |  JOIN ct USING (term)
       |  JOIN ns USING (source)
       |  CROSS JOIN n)
       |SELECT source, MAX(ns) AS n_tokens, MAX(n_terms) AS n_terms,
       |  CAST(SUM(contrib) AS BIGINT) AS kl_num_micros,
       |  ROUND(CAST(CAST(SUM(contrib) AS BIGINT) AS DOUBLE)
       |    / MAX(ns) / 1000000.0, 6) + 0.0 AS kl_nats
       |FROM con GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- t35: HTML→text extraction (crawl-corpus front door) ----------

  /** Blocks whose link-text share exceeds 1/3 are boilerplate —
    * jusText/trafilatura's link-density heuristic (public), kept as
    * an exact integer comparison (link_chars·3 ≤ n_chars) so the
    * decision replays on any engine with no float rounding. */
  val HtmlLinkDensityNum = 3

  /** t35: HTML→text extraction — the step BEFORE every text operator
    * when the corpus arrives as crawled pages (r13 verdict near-gap
    * 2: t01-t34 all assume clean text). Public-heuristic shape
    * (jusText / trafilatura, boilerplate-by-link-density): drop
    * script/style/head subtrees, split the page into blocks at
    * block-level tag boundaries (nav/div/p/body/html), strip
    * remaining tags per block, and classify each block by LINK
    * DENSITY — the share of its visible characters that live inside
    * <a> anchors (navigation chrome ≈ 1.0, body prose ≈ 0). Emitted
    * per block: exact integer char/link counts, the density, and the
    * keep verdict, so the kept rows feed t11/d16 directly.
    *
    * The test corpus has no HTML, so each document is wrapped in a
    * deterministic PLANTED page (title + style + a script whose
    * string literal contains a decoy `<div>`, a 3-link nav bar, the
    * document text as the content block with one inline citation
    * link, and a 2-link footer) — built with the same concat in
    * Spark and the oracle, so extraction correctness is
    * hash-verified end-to-end: the decoy must die with the script,
    * nav/footer must be dropped, the content block kept. Everything
    * is scalar regex work inside whole-stage codegen — at 100 TB
    * this is a pure map stage, no shuffle until the final sort. */
  def t35HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>d</title><style>.m{color:red}</style>" +
        "<script>var s=\"<div>decoy</div>\";</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav><div>"),
      trim(col("text")),
      lit(" <a href=\"#ref\">"), col("source"), lit("</a></div>" +
        "<div><a href=\"/p\">Privacy</a> | <a href=\"/t\">Terms</a>" +
        "</div></body></html>"))
    val noScript = regexp_replace(page,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noHead = regexp_replace(noStyle,
      "(?is)<head[^>]*>.*?</head>", " ")
    val blocks = split(noHead, "(?i)</?(?:nav|div|p|body|html)[^>]*>")
    val raws = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(blocks).as(Seq("pos", "raw")))
    val linkArr = regexp_extract_all(col("raw"),
      lit("(?is)<a[^>]*>(.*?)</a>"), lit(1))
    val stripped = trim(regexp_replace(
      regexp_replace(col("raw"), "<[^>]*>", " "), "\\s+", " "))
    raws
      .withColumn("link_chars", coalesce(aggregate(linkArr, lit(0L),
        (acc, x) => acc + length(x).cast("long")), lit(0L)))
      .withColumn("block_text", stripped)
      .withColumn("n_chars", length(col("block_text")).cast("long"))
      .filter(col("n_chars") > 0)
      .withColumn("blk", (col("pos") + 1).cast("long"))
      .withColumn("n_words",
        size(split(col("block_text"), " ")).cast("long"))
      .withColumn("link_density",
        round(col("link_chars").cast("double") / col("n_chars"), 6)
          + lit(0.0))
      .withColumn("kept",
        (col("link_chars") * HtmlLinkDensityNum <= col("n_chars"))
          .cast("long"))
      .select(col("doc_id"), col("blk"), col("n_chars"),
        col("link_chars"), col("link_density"), col("n_words"),
        col("kept"),
        when(col("kept") === 1L, col("block_text")).otherwise(lit(""))
          .as("block_text"))
      .orderBy(col("doc_id"), col("blk"))
  }

  lazy val t35Sql: String =
    s"""WITH pg AS (
       |  SELECT doc_id,
       |    '<html><head><title>d</title><style>.m{color:red}</style>'
       |    || '<script>var s="<div>decoy</div>";</script></head><body>'
       |    || '<nav><a href="/">Home</a> <a href="/a">About</a> '
       |    || '<a href="/c">Contact</a></nav><div>'
       |    || trim(text) || ' <a href="#ref">' || source || '</a></div>'
       |    || '<div><a href="/p">Privacy</a> | <a href="/t">Terms</a>'
       |    || '</div></body></html>' AS page
       |  FROM documents WHERE length(trim(text)) > 0),
       |cleaned AS (
       |  SELECT doc_id, string_split_regex(
       |    regexp_replace(regexp_replace(regexp_replace(page,
       |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
       |    '(?i)</?(?:nav|div|p|body|html)[^>]*>') AS bs
       |  FROM pg),
       |blk AS (
       |  SELECT doc_id, unnest(bs) AS raw,
       |    unnest(generate_series(1, len(bs))) AS blk
       |  FROM cleaned),
       |m AS (
       |  SELECT doc_id, CAST(blk AS BIGINT) AS blk,
       |    trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ',
       |      'g'), '\\s+', ' ', 'g')) AS block_text,
       |    CAST(COALESCE(list_sum(list_transform(
       |      regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
       |      x -> length(x))), 0) AS BIGINT) AS link_chars
       |  FROM blk)
       |SELECT doc_id, blk,
       |  CAST(length(block_text) AS BIGINT) AS n_chars, link_chars,
       |  ROUND(CAST(link_chars AS DOUBLE) / length(block_text), 6)
       |    + 0.0 AS link_density,
       |  CAST(len(string_split(block_text, ' ')) AS BIGINT) AS n_words,
       |  CAST(CASE WHEN link_chars * $HtmlLinkDensityNum
       |    <= length(block_text) THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  CASE WHEN link_chars * $HtmlLinkDensityNum
       |    <= length(block_text) THEN block_text ELSE '' END
       |    AS block_text
       |FROM m WHERE length(block_text) > 0
       |ORDER BY doc_id, blk""".stripMargin

  // ---- t36: URL canonicalization + dedup by canonical URL -----------

  /** t36: URL canonicalization — the OTHER crawl-corpus front door
    * next to t35 (a crawler's frontier and its dedup both key on the
    * canonical URL; without it the same page is fetched and kept
    * once per tracking-link variant): lowercase scheme and host,
    * strip the scheme's default port (http:80 / https:443), strip a
    * leading `www.`, drop the fragment, drop `utm_*` tracking
    * params, sort the surviving query params, collapse duplicate
    * and trailing slashes — the public canonicalization core every
    * crawler ships (RFC 3986 §6 normalization + the conventional
    * tracking-param strip). Path CASE is preserved (paths are
    * case-sensitive per the RFC; only scheme/host fold).
    *
    * The corpus has no URL column, so each doc plants a
    * deterministic raw URL (doc_id%4 picks among: uppercased
    * host + default port + utm + fragment + doubled slashes; plain
    * http with default port; doubled slashes + unsorted params +
    * utm; already-canonical) — variants 2 and 3 collapse to the
    * SAME canonical per source, so the dedup verdict is planted and
    * hash-verified. Emits (doc_id, canon_url, rep_doc_id = min doc
    * per canonical, n_dups, is_dup) — the frontier-dedup relation.
    * All scalar string/regex work (codegen'd map stage) plus one
    * canonical-URL aggregate; at 100 TB the aggregate shuffles on
    * the canonical key exactly like d01's hash dedup. */
  /** The shared canonicalization relation (doc_id, host, canon_url)
    * over the planted URLs — t36's core, reused by t38's per-domain
    * report. See [[t36UrlCanon]] for the rules. */
  private def canonUrls(spark: SparkSession, dir: String): DataFrame = {
    // r15: the planted hosts now vary their TLD (com / co.uk /
    // com.au by doc_id%3) and occasionally carry a subdomain label
    // (m. on doc_id%7==0) so t38's public-suffix-aware registrable
    // domain has multi-label cases to bucket — a .com-only plant
    // never exercises it. t36/s24 semantics are unchanged in shape
    // (their oracles share this CTE chain and moved in lockstep).
    val tld = when(pmod(col("doc_id"), lit(3)) === 0, "com")
      .when(pmod(col("doc_id"), lit(3)) === 1, "co.uk")
      .otherwise("com.au")
    val hostLabel = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(lit("m."), col("source"))).otherwise(col("source"))
    val hostLower = concat(hostLabel, lit("."), tld)
    val hostUpper = upper(hostLower)
    val raw = concat(
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("HTTPS://WWW."), hostUpper,
          lit(":443//news//Item/?utm_source=rss&z=9&a=1#top")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("http://"), hostLower,
            lit(":80/news/item")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), hostUpper,
            lit("/news//item//?b=2&a=1&utm_campaign=x")))
        .otherwise(concat(lit("https://www."), hostLower,
          lit("/news/item?a=1&b=2"))))
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), raw.as("raw_url"))
      .withColumn("host", canonicalHost(col("raw_url")))
      .withColumn("canon_url", canonicalUrl(col("raw_url")))
  }

  /** The canonical HOST of a raw URL (folded, default port and
    * leading www. stripped) — shared by [[canonicalUrl]] and t38's
    * domain key. */
  def canonicalHost(raw: Column): Column = {
    val scheme = lower(regexp_extract(raw, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(raw,
      "^[A-Za-z]+://([^/?#]*)", 1))
    val host0 = when(scheme === "http",
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    regexp_replace(host0, "^www\\.", "")
  }

  /** The full canonicalization as ONE scalar column function (see
    * [[t36UrlCanon]] for the rules) — usable identically on a batch
    * relation and a streaming arrival feed (s24). */
  def canonicalUrl(raw: Column): Column = {
    val scheme = lower(regexp_extract(raw, "^([A-Za-z]+)://", 1))
    val pqf = regexp_extract(raw, "^[A-Za-z]+://[^/?#]*(.*)$", 1)
    val pq = regexp_replace(pqf, "#.*$", "")
    val path0 = regexp_extract(pq, "^([^?]*)", 1)
    val path = regexp_replace(regexp_replace(path0, "/+", "/"),
      "/$", "")
    val query0 = regexp_extract(pq, "\\?(.*)$", 1)
    val query = array_join(array_sort(filter(split(query0, "&"),
      x => !x.startsWith("utm_") && x =!= "")), "&")
    concat(scheme, lit("://"), canonicalHost(raw), path,
      when(length(query) > 0, concat(lit("?"), query))
        .otherwise(lit("")))
  }

  def t36UrlCanon(spark: SparkSession, dir: String): DataFrame = {
    val canoned = canonUrls(spark, dir)
      .select(col("doc_id"), col("canon_url"))
    val groups = canoned.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_dups"))
    canoned
      .join(groups.hint("shuffle_hash"), Seq("canon_url"))
      .withColumn("is_dup",
        (col("doc_id") =!= col("rep_doc_id")).cast("long"))
      .select(col("doc_id"), col("canon_url"), col("rep_doc_id"),
        col("n_dups"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Shared canonicalization CTE chain (raw → parts → comp → canon
    * with (doc_id, host, canon_url)) — t36/t38's common prefix. */
  private lazy val urlCanonCtes: String =
    s"""hl AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 7 = 0 THEN 'm.' || source
       |      ELSE source END) || '.' ||
       |    (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
       |      ELSE 'com.au' END) AS hostl
       |  FROM documents),
       |raw AS (
       |  SELECT doc_id, CASE doc_id % 4
       |    WHEN 0 THEN 'HTTPS://WWW.' || upper(hostl)
       |      || ':443//news//Item/?utm_source=rss&z=9&a=1#top'
       |    WHEN 1 THEN 'http://' || hostl || ':80/news/item'
       |    WHEN 2 THEN 'https://' || upper(hostl)
       |      || '/news//item//?b=2&a=1&utm_campaign=x'
       |    ELSE 'https://www.' || hostl || '/news/item?a=1&b=2'
       |    END AS raw_url
       |  FROM hl),
       |parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]*)', 1))
       |      AS hostport,
       |    regexp_replace(
       |      regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]*(.*)$$', 1),
       |      '#.*$$', '') AS pq
       |  FROM raw),
       |comp AS (
       |  SELECT doc_id, scheme,
       |    regexp_replace(CASE
       |      WHEN scheme = 'http'
       |        THEN regexp_replace(hostport, ':80$$', '')
       |      WHEN scheme = 'https'
       |        THEN regexp_replace(hostport, ':443$$', '')
       |      ELSE hostport END, '^www\\.', '') AS host,
       |    regexp_replace(regexp_replace(
       |      regexp_extract(pq, '^([^?]*)', 1), '/+', '/', 'g'),
       |      '/$$', '') AS path,
       |    array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract(pq, '\\?(.*)$$', 1), '&'),
       |      x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')
       |      AS query
       |  FROM parts),
       |canon AS (
       |  SELECT doc_id, host, scheme || '://' || host || path ||
       |    CASE WHEN length(query) > 0 THEN '?' || query ELSE '' END
       |      AS canon_url
       |  FROM comp)"""

  lazy val t36Sql: String =
    s"""WITH $urlCanonCtes,
       |g AS (
       |  SELECT canon_url, CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_dups
       |  FROM canon GROUP BY 1)
       |SELECT c.doc_id, c.canon_url, g.rep_doc_id, g.n_dups,
       |  CAST(CASE WHEN c.doc_id <> g.rep_doc_id THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_dup
       |FROM canon c JOIN g USING (canon_url)
       |ORDER BY c.doc_id""".stripMargin

  // ---- s24: streaming URL-frontier admission ------------------------

  /** Arrival micro-batch width for s24's deterministic window view
    * (doc_id ranges stand in for arrival time — the s10 convention). */
  val FrontierBatch = 128L

  /** s24: URL-FRONTIER admission — t36's canonical-URL dedup AT
    * INGEST (what a crawler's frontier actually runs: admit a fetch
    * only if its canonical URL was never admitted before): first
    * arrival per canonical URL wins (ties by doc_id — the arrival
    * order stand-in), later spellings of the same canonical are
    * frontier duplicates. Registered as the window report
    * (n_arrivals / n_admitted / n_dup_frontier per arrival window);
    * the true streaming form ([[graft.streaming.EventStreams
    * .frontierAdmitStream]]) canonicalizes in-stream with the SAME
    * [[canonicalUrl]] expression and admits via
    * dropDuplicatesWithinWatermark — state keyed on the canonical
    * URL, watermark-aged, spec-pinned stream == batch. */
  def s24StreamFrontier(spark: SparkSession, dir: String): DataFrame = {
    val c = canonUrls(spark, dir)
      .select(col("doc_id"), col("canon_url"))
      // exact integer floor division (`div`), matching the oracle's
      // `//`: double division truncates toward zero (wrong for
      // negative ids) and loses integer precision past 2^53
      .withColumn("wnd", expr(s"doc_id div $FrontierBatch"))
    val first = c.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("first_doc"))
    c.join(first.hint("shuffle_hash"), Seq("canon_url"))
      .groupBy(col("wnd"))
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when(col("doc_id") === col("first_doc"), 1L)
          .otherwise(0L)).cast("long").as("n_admitted"))
      .withColumn("n_dup_frontier",
        (col("n_arrivals") - col("n_admitted")).cast("long"))
      .orderBy(col("wnd"))
  }

  lazy val s24Sql: String =
    s"""WITH $urlCanonCtes,
       |f AS (
       |  SELECT canon_url, MIN(doc_id) AS first_doc
       |  FROM canon GROUP BY 1)
       |SELECT CAST(c.doc_id // $FrontierBatch AS BIGINT) AS wnd,
       |  CAST(COUNT(*) AS BIGINT) AS n_arrivals,
       |  CAST(SUM(CASE WHEN c.doc_id = f.first_doc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_admitted,
       |  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = f.first_doc
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_frontier
       |FROM canon c JOIN f USING (canon_url)
       |GROUP BY 1 ORDER BY wnd""".stripMargin

  // ---- t40: line-wrap / hyphenation repair --------------------------

  /** t40: line-wrap + hyphenation REPAIR — PDF/column-extracted text
    * arrives with soft line breaks and end-of-line hyphenation
    * ("exam-\nple"); tokenizers, n-gram dedup, and LM scoring all
    * fracture on it, so the repair runs right after extraction
    * (t35/t37's family). Two public-heuristic passes: rejoin
    * letter–hyphen–newline–letter ("de-hyphenate"), then soft
    * newlines become spaces. The corpus has no wraps, so each doc
    * PLANTS them deterministically (every 5th word ≥4 chars whose
    * split characters are both lowercase letters splits as
    * "xx-\nrest", every 6th inter-word gap becomes a newline). The
    * lowercase guard mirrors the de-hyphenation regex's own
    * [a-z]-\n[a-z] condition, so the plant is lossless BY
    * CONSTRUCTION on any corpus — repair must restore trim(text)
    * EXACTLY, and the `restored` column is structurally pinned 1 on
    * every row (a self-checking round trip, not a heuristic demo). Counts come
    * from exact length arithmetic. Pure scalar map work inside
    * whole-stage codegen. */
  def t40LinewrapRepair(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), trim(col("text")).as("txt"))
      .withColumn("ws", split(col("txt"), " "))
    val pieces = transform(col("ws"), (w, i0) => {
      val i = i0 + 1
      val body = when(pmod(i, lit(5)) === 2 && length(w) >= 4 &&
        w.substr(lit(2), lit(2)).rlike("^[a-z]{2}$"),
        concat(w.substr(lit(1), lit(2)), lit("-\n"),
          w.substr(lit(3), length(w))))
        .otherwise(w)
      val sep = when(i < size(col("ws")),
        when(pmod(i, lit(6)) === 0, lit("\n")).otherwise(lit(" ")))
        .otherwise(lit(""))
      concat(body, sep)
    })
    docs.withColumn("planted", array_join(pieces, ""))
      .withColumn("dehyph", regexp_replace(col("planted"),
        "([a-z])-\\n([a-z])", "$1$2"))
      .withColumn("repaired",
        regexp_replace(col("dehyph"), "\\n", " "))
      .select(col("doc_id"),
        ((length(col("planted")) - length(col("dehyph"))) / 2)
          .cast("long").as("n_hyphen_joins"),
        (length(col("dehyph")) - length(regexp_replace(col("dehyph"),
          "\\n", ""))).cast("long").as("n_wraps"),
        when(col("repaired") === col("txt"), 1L).otherwise(0L)
          .as("restored"),
        col("repaired"))
      .orderBy(col("doc_id"))
  }

  lazy val t40Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(text) AS txt FROM documents
       |  WHERE length(trim(text)) > 0),
       |w AS (
       |  SELECT doc_id, txt, string_split(txt, ' ') AS ws FROM d),
       |p AS (
       |  SELECT doc_id, txt, array_to_string(list_transform(ws,
       |    (x, i) ->
       |      (CASE WHEN i % 5 = 2 AND length(x) >= 4
       |          AND regexp_matches(substr(x, 2, 2), '^[a-z]{2}$$')
       |        THEN substr(x, 1, 2) || '-' || chr(10) || substr(x, 3)
       |        ELSE x END)
       |      || (CASE WHEN i < len(ws)
       |        THEN (CASE WHEN i % 6 = 0 THEN chr(10) ELSE ' ' END)
       |        ELSE '' END)), '') AS planted
       |  FROM w),
       |r AS (
       |  SELECT doc_id, txt, planted,
       |    regexp_replace(planted, '([a-z])-\\n([a-z])', '\\1\\2',
       |      'g') AS dehyph
       |  FROM p)
       |SELECT doc_id,
       |  CAST((length(planted) - length(dehyph)) / 2 AS BIGINT)
       |    AS n_hyphen_joins,
       |  CAST(length(dehyph) - length(replace(dehyph, chr(10), ''))
       |    AS BIGINT) AS n_wraps,
       |  CAST(CASE WHEN replace(dehyph, chr(10), ' ') = txt
       |    THEN 1 ELSE 0 END AS BIGINT) AS restored,
       |  replace(dehyph, chr(10), ' ') AS repaired
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- t39: robots.txt rule matching (crawl admission) --------------

  /** The planted robots ruleset shared by the query and its oracle:
    * the four plain-prefix rules of the original t39 plus RFC 9309
    * `*`/`$` wildcard rules (r15, closing the r14 verdict gap 2 — a
    * prefix-only matcher silently mis-admits against real robots
    * files). Covered: a leading-`*` rule, a `*`-plus-`$` rule, a
    * LONGER allow wildcard overriding a disallow wildcard, and a
    * bare `$` end anchor. */
  val RobotsRules: Seq[(String, String)] = Seq(
    ("disallow", "/private"), ("allow", "/private/ok"),
    ("disallow", "/tmp"), ("disallow", "/search"),
    ("disallow", "*/download/*"), ("disallow", "/*.pdf$"),
    ("allow", "/public/*.pdf$"), ("disallow", "/exact$"))

  /** RFC 9309 pattern → anchored RE2-portable regex: `*` matches any
    * run, a TRAILING `$` anchors the end, everything else is
    * literal (regex metachars escaped with escapes Java regex and
    * RE2 both accept). Matching always anchors at the path start —
    * RFC patterns are begin-anchored prefixes that `*` loosens. */
  def robotsPatternRe(pat: String): String = {
    val anchored = pat.endsWith("$")
    val core = if (anchored) pat.dropRight(1) else pat
    val body = core.flatMap {
      case '*' => ".*"
      case c if ".[]{}()+?^$|\\".contains(c) => "\\" + c
      case c => c.toString
    }
    "^" + body + (if (anchored) "$" else "")
  }

  /** t39: robots-exclusion rule matching — the LEGAL admission gate
    * before s24's frontier even sees a URL (RFC 9309, public): among
    * all Allow/Disallow rules whose pattern MATCHES the URL path,
    * the rule with the LONGEST PATTERN wins (RFC 9309 §2.2.2
    * most-specific-match, measured in pattern octets); equal lengths
    * prefer Allow; no match ⇒ allowed. Patterns carry the RFC's two
    * metacharacters — `*` (any run) and trailing `$` (end anchor) —
    * translated ONCE per rule into an anchored regex
    * ([[robotsPatternRe]]) that is literal in the bounded rule
    * relation, so both engines replay the identical RE2-portable
    * pattern set (percent-encoding normalization is out of scope —
    * t36 canonicalizes before this gate). The corpus has no
    * robots.txt, so the [[RobotsRules]] group and a 9-way planted
    * path per doc exercise every verdict class — prefix
    * longest-match override, plain block, default-allow, leading-`*`
    * block, `*…$` block, a LONGER allow wildcard overriding a
    * disallow wildcard, `$`-anchored exact block, and the $-anchor
    * NEGATIVE (/exact2 must pass). Plan: docs × the literal rule
    * relation (broadcast — bounded by the ruleset, never
    * corpus-scaling), regex filter, one per-doc window rank
    * (partitioned by doc), left-join back for the default — at
    * 100 TB this is a map-side broadcast join + one keyed window,
    * the q15 grouped-top-1 shape. */
  def t39RobotsRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = when(pmod(col("doc_id"), lit(9)) === 0, "/private/x")
      .when(pmod(col("doc_id"), lit(9)) === 1, "/private/ok/y")
      .when(pmod(col("doc_id"), lit(9)) === 2, "/public/a")
      .when(pmod(col("doc_id"), lit(9)) === 3, "/tmp/z")
      .when(pmod(col("doc_id"), lit(9)) === 4, "/docs/report.pdf")
      .when(pmod(col("doc_id"), lit(9)) === 5, "/public/spec.pdf")
      .when(pmod(col("doc_id"), lit(9)) === 6, "/a/download/b")
      .when(pmod(col("doc_id"), lit(9)) === 7, "/exact")
      .otherwise("/exact2")
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), path.as("path"))
    val rules = RobotsRules
      .map { case (t, pat) => (t, pat, robotsPatternRe(pat)) }
      .toDF("rtype", "pat", "re")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(length(col("pat")).desc, col("rtype"), col("pat"))
    val best = docs.crossJoin(broadcast(rules))
      .filter(expr("regexp_like(path, re)"))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("rtype").as("matched_type"),
        col("pat").as("matched_rule"))
    docs.join(best.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("path"),
        coalesce(col("matched_rule"), lit("")).as("matched_rule"),
        coalesce(col("matched_type"), lit("none")).as("matched_type"),
        when(coalesce(col("matched_type"), lit("allow")) =!=
          "disallow", 1L).otherwise(0L).as("allowed"))
      .orderBy(col("doc_id"))
  }

  lazy val t39Sql: String = {
    // the VALUES list derives from the SAME RobotsRules +
    // robotsPatternRe the query uses, so query and oracle can never
    // carry different pattern translations
    val ruleValues = RobotsRules.map { case (t, pat) =>
      s"('$t', '$pat', '${robotsPatternRe(pat)}')"
    }.mkString(",\n    ")
    s"""WITH docs AS (
       |  SELECT doc_id, CASE doc_id % 9
       |    WHEN 0 THEN '/private/x'
       |    WHEN 1 THEN '/private/ok/y'
       |    WHEN 2 THEN '/public/a'
       |    WHEN 3 THEN '/tmp/z'
       |    WHEN 4 THEN '/docs/report.pdf'
       |    WHEN 5 THEN '/public/spec.pdf'
       |    WHEN 6 THEN '/a/download/b'
       |    WHEN 7 THEN '/exact'
       |    ELSE '/exact2' END AS path
       |  FROM documents),
       |rules AS (
       |  SELECT * FROM (VALUES
       |    $ruleValues)
       |    AS t(rtype, pat, re)),
       |best AS (
       |  SELECT doc_id, rtype AS matched_type, pat AS matched_rule
       |  FROM (
       |    SELECT d.doc_id, r.rtype, r.pat, ROW_NUMBER() OVER (
       |      PARTITION BY d.doc_id
       |      ORDER BY length(r.pat) DESC, r.rtype, r.pat) AS rn
       |    FROM docs d JOIN rules r ON regexp_matches(d.path, r.re))
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.path,
       |  COALESCE(b.matched_rule, '') AS matched_rule,
       |  COALESCE(b.matched_type, 'none') AS matched_type,
       |  CAST(CASE WHEN COALESCE(b.matched_type, 'allow')
       |    <> 'disallow' THEN 1 ELSE 0 END AS BIGINT) AS allowed
       |FROM docs d LEFT JOIN best b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- t38: per-domain corpus governance report ---------------------

  /** The pinned multi-label public-suffix subset t38 buckets by —
    * a literal bounded relation (the PSL is a public Mozilla
    * artifact; at production the full list rides the same shape:
    * a broadcast lookup or, as here, a scalar longest-suffix test).
    * Suffixes here never nest (no entry is a suffix of another), so
    * at most one matches a host. */
  val PublicSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "com.au", "co.jp", "co.in", "com.br", "co.nz")

  /** The REGISTRABLE domain of a canonical host: one label before
    * the matched public suffix (m.src1.co.uk → src1.co.uk), falling
    * back to the last two labels when no multi-label suffix matches
    * (m.src1.com → src1.com). r15: the r14 "last two labels"
    * divergence note is retired — a *.co.uk site no longer buckets
    * under "co.uk". */
  def registrableDomain(host: Column): Column = {
    val sufArr = array(PublicSuffixes.map(lit): _*)
    // try_element_at: ANSI element_at throws on the empty no-match
    // array; NULL routes to the last-two-labels fallback
    val msfx = try_element_at(
      filter(sufArr, x => host.endsWith(concat(lit("."), x))), lit(1))
    val stem = host.substr(lit(1),
      length(host) - length(msfx) - lit(1))
    when(msfx.isNotNull,
      concat(regexp_extract(stem, "([^.]+)$", 1), lit("."), msfx))
      .otherwise(regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
  }

  /** t38: per-DOMAIN corpus report — the governance table a crawl
    * corpus is administered by (crawl budgets, block decisions —
    * t29's blocklist input — and dedup audits are all per-domain,
    * not per-page): group t36's canonical relation by the
    * REGISTRABLE domain — one label before a matched entry of the
    * pinned [[PublicSuffixes]] subset, else the last two dot-labels
    * (r15: multi-label TLDs now bucket correctly; the r14 divergence
    * note is retired) — and report docs, unique pages (distinct
    * canonical URLs), the duplicate-fetch rate in exact micro units,
    * and total corpus chars hosted there. One canonical-key-derived
    * aggregate — shuffles on domain exactly like any keyed report
    * at 100 TB; the suffix test is a scalar over a bounded literal
    * array, zero joins. */
  def t38DomainReport(spark: SparkSession, dir: String): DataFrame = {
    val canoned = canonUrls(spark, dir)
      .withColumn("domain", registrableDomain(col("host")))
    val chars = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    canoned.join(chars.hint("shuffle_hash"), Seq("doc_id"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_pages"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .withColumn("dup_rate_micro",
        floor(lit(1000000d) * (col("n_docs") - col("n_pages"))
          / col("n_docs")).cast("long"))
      .select(col("domain"), col("n_docs"), col("n_pages"),
        col("dup_rate_micro"), col("total_chars"))
      .orderBy(col("domain"))
  }

  lazy val t38Sql: String = {
    val sufList = PublicSuffixes.map(x => s"'$x'").mkString(", ")
    s"""WITH $urlCanonCtes,
       |sx AS (
       |  SELECT c.doc_id, c.host, c.canon_url, doc.n_chars,
       |    list_filter([$sufList],
       |      x -> ends_with(c.host, '.' || x))[1] AS msfx
       |  FROM canon c JOIN documents doc USING (doc_id)),
       |d AS (
       |  SELECT doc_id, canon_url, n_chars,
       |    CASE WHEN msfx IS NOT NULL
       |      THEN regexp_extract(substr(host, 1,
       |        CAST(length(host) - length(msfx) - 1 AS INTEGER)),
       |        '([^.]+)$$', 1) || '.' || msfx
       |      ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |      END AS domain
       |  FROM sx)
       |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_pages,
       |  CAST(FLOOR(1000000.0 * (COUNT(*) - COUNT(DISTINCT canon_url))
       |    / COUNT(*)) AS BIGINT) AS dup_rate_micro,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM d GROUP BY domain ORDER BY domain""".stripMargin
  }

  // ---- t37: HTML entity decode (the step between t35 and t07) ------

  /** t37: HTML entity decoding — extracted crawl text still carries
    * `&amp;`-family escapes (t35 strips tags, not entities; hashing
    * or deduping undecoded text splits identical documents by their
    * escaping), so this is the step between extraction and t07
    * normalization. Handles the XML named set (amp/lt/gt/quot/apos)
    * + nbsp, decimal `&#NN;` and hex `&#xNN;` numeric references in
    * the printable-ASCII range; unknown names and out-of-range codes
    * are PRESERVED verbatim (the lossless-on-doubt contract — a
    * decoder that guesses corrupts). Set-based and order-exact: the
    * text splits at a planted \\u0001 sentinel before each `&` (RE2
    * has no lookahead, so the portable split is replace-then-split),
    * each piece decodes as a scalar CASE / char(conv(...)) chain,
    * and the document REASSEMBLES via the q62 partial-aggregable
    * ordered concat (sort_array of (pos, piece) structs — no
    * single-partition window, combines map-side). The corpus has no
    * entities, so each doc plants a deterministic escaped prefix
    * (named + decimal + hex + an unknown `&bogus;` that must
    * survive) ahead of its text — decode correctness, entity counts,
    * and the unknown-preservation contract are all hash-verified. */
  def t37EntityDecode(spark: SparkSession, dir: String): DataFrame = {
    val esc = concat(
      lit("Tom &amp; Jerry &lt;tag&gt; &quot;"), col("source"),
      lit("&quot; &#39;ok&#39; A&#66;C &#x21; &bogus; "),
      trim(col("text")))
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), esc.as("esc"))
    val pieces = docs.select(col("doc_id"),
      posexplode(split(regexp_replace(col("esc"), "&", "&"),
        "")).as(Seq("pos", "piece")))
      .filter(col("piece") =!= "")
    val named = regexp_extract(col("piece"), "^&([a-zA-Z]+);", 1)
    val dec = regexp_extract(col("piece"), "^&#([0-9]{1,7});", 1)
    val hex = regexp_extract(col("piece"), "^&#[xX]([0-9a-fA-F]{1,6});", 1)
    val rest = regexp_replace(col("piece"),
      "^&([a-zA-Z]+|#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6});", "")
    val namedChar = when(named === "amp", "&")
      .when(named === "lt", "<").when(named === "gt", ">")
      .when(named === "quot", "\"").when(named === "apos", "'")
      .when(named === "nbsp", " ")
    val decCode = when(dec =!= "", dec.cast("long"))
      .when(hex =!= "", expr("conv(lower(h), 16, 10)").cast("long"))
    val withCode = pieces
      .withColumn("h", hex)
      .withColumn("nc", namedChar)
      .withColumn("code", decCode)
    val decoded = withCode
      .withColumn("dc",
        when(col("nc").isNotNull, concat(col("nc"), rest))
          .when(col("code").between(32L, 126L),
            concat(expr("char(code)"), rest))
          .otherwise(col("piece")))
      .withColumn("hit",
        when(col("nc").isNotNull ||
          col("code").between(32L, 126L), 1L).otherwise(0L))
      .withColumn("unknown",
        when(col("piece").startsWith("&") && col("hit") === 0L, 1L)
          .otherwise(0L))
    decoded.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("dc")))),
          x => x.getField("dc")), "").as("decoded"),
        sum(col("hit")).cast("long").as("n_entities"),
        sum(col("unknown")).cast("long").as("n_unknown"))
      .orderBy(col("doc_id"))
  }

  lazy val t37Sql: String = {
    val hexVal =
      """CAST(list_sum(list_transform(generate_series(1, length(h)),
        |  p -> (CAST(strpos('0123456789abcdef',
        |          substring(lower(h), p, 1)) AS BIGINT) - 1)
        |       * power(16, length(h) - p))) AS BIGINT)"""
        .stripMargin
    s"""WITH esc AS (
       |  SELECT doc_id, 'Tom &amp; Jerry &lt;tag&gt; &quot;'
       |    || source || '&quot; &#39;ok&#39; A&#66;C &#x21; '
       |    || '&bogus; ' || trim(text) AS esc
       |  FROM documents WHERE length(trim(text)) > 0),
       |sp AS (
       |  SELECT doc_id,
       |    string_split(replace(esc, '&', chr(1) || '&'), chr(1)) AS ps
       |  FROM esc),
       |pieces AS (
       |  SELECT doc_id, unnest(ps) AS piece,
       |    unnest(generate_series(1, len(ps))) AS pos
       |  FROM sp),
       |m AS (
       |  SELECT doc_id, pos, piece,
       |    regexp_extract(piece, '^&([a-zA-Z]+);', 1) AS named,
       |    regexp_extract(piece, '^&#([0-9]{1,7});', 1) AS dec,
       |    regexp_extract(piece, '^&#[xX]([0-9a-fA-F]{1,6});', 1) AS h,
       |    regexp_replace(piece,
       |      '^&([a-zA-Z]+|#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6});', '') AS rest
       |  FROM pieces WHERE piece <> ''),
       |coded AS (
       |  SELECT doc_id, pos, piece, rest,
       |    CASE named WHEN 'amp' THEN '&' WHEN 'lt' THEN '<'
       |      WHEN 'gt' THEN '>' WHEN 'quot' THEN '"'
       |      WHEN 'apos' THEN CHR(39) WHEN 'nbsp' THEN ' ' END AS nc,
       |    CASE WHEN dec <> '' THEN CAST(dec AS BIGINT)
       |      WHEN h <> '' THEN $hexVal END AS code
       |  FROM m),
       |dc AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN nc IS NOT NULL THEN nc || rest
       |      WHEN code BETWEEN 32 AND 126 THEN chr(CAST(code AS INTEGER)) || rest
       |      ELSE piece END AS dc,
       |    CASE WHEN nc IS NOT NULL
       |        OR code BETWEEN 32 AND 126 THEN 1 ELSE 0 END AS hit,
       |    CASE WHEN starts_with(piece, '&') AND nc IS NULL
       |        AND (code IS NULL OR code NOT BETWEEN 32 AND 126)
       |      THEN 1 ELSE 0 END AS unknown
       |  FROM coded)
       |SELECT doc_id,
       |  string_agg(dc, '' ORDER BY pos) AS decoded,
       |  CAST(SUM(hit) AS BIGINT) AS n_entities,
       |  CAST(SUM(unknown) AS BIGINT) AS n_unknown
       |FROM dc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t42: charset discrimination at ingest -------------------------

  /** t42: CHARSET discrimination at ingest — the gate BEFORE every
    * text operator when pages arrive as raw bytes (r14 verdict gap
    * 4: t27 flags mojibake after a bad decode; nothing decided the
    * decode): a UTF-8 validity STATE MACHINE over the byte stream —
    * the public algorithm every charset sniffer leads with, because
    * valid multi-byte UTF-8 is statistically never produced by
    * Latin-1/Windows-1252 text — classifying each payload as
    * `ascii` (no high bytes), `utf-8` (high bytes, machine accepts),
    * or `legacy` (high bytes, machine rejects → single-byte
    * Latin-1-family, decode via 8859-1 and let t27 audit). The DFA
    * folds integer byte tests through aggregate()/list_reduce —
    * whole-stage-codegen arithmetic in Spark, the identical
    * transition CASE in DuckDB (state: 0 = expect lead, 1-3 = that
    * many continuation bytes pending, 4 = rejected; C0/C1 overlong
    * leads and F5+ out-of-range leads reject at the lead state, a
    * mid-sequence non-continuation or EOF-in-sequence rejects too).
    *
    * The corpus is ASCII, so each doc PLANTS its encoding class
    * (doc_id%4): pure ASCII; UTF-8 with a real multi-byte prefix
    * (café as C3 A9); the SAME text in Latin-1 (café as E9 —
    * invalid UTF-8: E9 expects 2 continuations, gets "f "); and
    * UTF-8 TRUNCATED mid-sequence (trailing C3 at EOF — the
    * chunked-download reality). Bytes ride as an integer array
    * (ascii() over a bounded 24-char prefix of the text), so every
    * test is exact integer arithmetic and the classification
    * hash-verifies cross-engine — no BLOB portability games. */
  /** The UTF-8 validity DFA as a column fold over an int-array byte
    * payload — shared by t42's batch report and s25's ingest gate
    * (the stream runs the IDENTICAL codegen'd transition
    * arithmetic). State 0 = expect lead, 1-3 = pending continuation
    * bytes, 4 = rejected. */
  def utf8FinalState(bytes: Column): Column =
    aggregate(bytes, lit(0), (st, b) =>
      when(st === 4, 4)
        .when(st > 0,
          when(b >= 128 && b < 192, st - 1).otherwise(4))
        .when(b < 128, 0)
        .when(b >= 194 && b < 224, 1)
        .when(b >= 224 && b < 240, 2)
        .when(b >= 240 && b < 245, 3)
        .otherwise(4))

  /** Count of high (≥0x80) bytes — the ascii/non-ascii split. */
  def highByteCount(bytes: Column): Column =
    aggregate(bytes, lit(0L),
      (acc, b) => acc + when(b >= 128, 1L).otherwise(0L))

  /** The classification verdict from the two DFA outputs. */
  def charsetClass(nHigh: Column, finalState: Column): Column =
    when(nHigh === 0L, "ascii")
      .when(finalState === 0L, "utf-8")
      .otherwise("legacy")

  def t42CharsetDetect(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), trim(col("text")).as("txt"))
    // the variable payload: ascii codes of the first 24 chars
    val asciiBytes = transform(
      sequence(lit(1), least(lit(24), length(col("txt")))),
      i => ascii(col("txt").substr(i, lit(1))).cast("int"))
    // caf<e-acute> in UTF-8 (C3 A9) and Latin-1 (E9), then a space
    val utf8Pre = array(Seq(0x63, 0x61, 0x66, 0xC3, 0xA9, 0x20)
      .map(v => lit(v)): _*)
    val latin1Pre = array(Seq(0x63, 0x61, 0x66, 0xE9, 0x20)
      .map(v => lit(v)): _*)
    val truncTail = array(lit(0xC3))
    val bytes = when(pmod(col("doc_id"), lit(4)) === 0, asciiBytes)
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(utf8Pre, asciiBytes))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(latin1Pre, asciiBytes))
      .otherwise(concat(asciiBytes, truncTail))
    val withBytes = docs.withColumn("bytes", bytes)
    withBytes
      .withColumn("n_bytes", size(col("bytes")).cast("long"))
      .withColumn("n_high", highByteCount(col("bytes")))
      .withColumn("n_leads", aggregate(col("bytes"), lit(0L),
        (acc, b) => acc + when(b >= 194 && b < 245, 1L)
          .otherwise(0L)))
      .withColumn("final_state",
        utf8FinalState(col("bytes")).cast("long"))
      .withColumn("charset_class",
        charsetClass(col("n_high"), col("final_state")))
      .select(col("doc_id"), col("n_bytes"), col("n_high"),
        col("n_leads"), col("final_state"), col("charset_class"))
      .orderBy(col("doc_id"))
  }

  lazy val t42Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(text) AS txt FROM documents
       |  WHERE length(trim(text)) > 0),
       |ab AS (
       |  SELECT doc_id, list_transform(
       |    generate_series(1, least(24, length(txt))),
       |    i -> CAST(ascii(substring(txt, CAST(i AS INTEGER), 1))
       |      AS INTEGER)) AS a
       |  FROM d),
       |pb AS (
       |  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
       |    WHEN 0 THEN a
       |    WHEN 1 THEN [99, 97, 102, 195, 169, 32] || a
       |    WHEN 2 THEN [99, 97, 102, 233, 32] || a
       |    ELSE a || [195] END AS bytes
       |  FROM ab),
       |st AS (
       |  SELECT doc_id, bytes,
       |    list_reduce(list_prepend(0, bytes), (st, b) -> CASE
       |      WHEN st = 4 THEN 4
       |      WHEN st > 0 THEN
       |        (CASE WHEN b >= 128 AND b < 192 THEN st - 1
       |          ELSE 4 END)
       |      WHEN b < 128 THEN 0
       |      WHEN b >= 194 AND b < 224 THEN 1
       |      WHEN b >= 224 AND b < 240 THEN 2
       |      WHEN b >= 240 AND b < 245 THEN 3
       |      ELSE 4 END) AS fstate,
       |    CAST(list_sum(list_transform(bytes,
       |      b -> CASE WHEN b >= 128 THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS n_high,
       |    CAST(list_sum(list_transform(bytes,
       |      b -> CASE WHEN b >= 194 AND b < 245 THEN 1 ELSE 0 END))
       |      AS BIGINT) AS n_leads
       |  FROM pb)
       |SELECT doc_id, CAST(len(bytes) AS BIGINT) AS n_bytes, n_high,
       |  n_leads, CAST(fstate AS BIGINT) AS final_state,
       |  CASE WHEN n_high = 0 THEN 'ascii'
       |    WHEN fstate = 0 THEN 'utf-8'
       |    ELSE 'legacy' END AS charset_class
       |FROM st ORDER BY doc_id""".stripMargin

  // ---- s25: streaming charset admission ------------------------------

  /** Arrival micro-batch width for s25's window view (the s24
    * convention: doc_id ranges stand in for arrival time). */
  val CharsetBatch = 128L

  /** s25: CHARSET admission AT INGEST — t42's DFA on the arrival
    * stream (what a crawl ingester actually runs: classify each
    * fetched payload's encoding BEFORE any text op; utf-8/ascii pass
    * through, legacy payloads route to the 8859-1 re-decode +
    * t27-audit side). Registered as the window report (n_arrivals /
    * n_utf8 / n_ascii / n_legacy per arrival window); the true
    * streaming form ([[graft.streaming.EventStreams
    * .charsetGateStream]]) classifies in-stream with the SAME
    * [[utf8FinalState]]/[[charsetClass]] expressions — stateless map
    * work until the watermark-bounded windowed count, spec-pinned
    * stream == batch. */
  def s25StreamCharset(spark: SparkSession, dir: String): DataFrame =
    t42CharsetDetect(spark, dir)
      .withColumn("wnd", expr(s"doc_id div $CharsetBatch"))
      .groupBy(col("wnd"))
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when(col("charset_class") === "utf-8", 1L).otherwise(0L))
          .cast("long").as("n_utf8"),
        sum(when(col("charset_class") === "ascii", 1L).otherwise(0L))
          .cast("long").as("n_ascii"),
        sum(when(col("charset_class") === "legacy", 1L).otherwise(0L))
          .cast("long").as("n_legacy"))
      .orderBy(col("wnd"))

  lazy val s25Sql: String = {
    // the t42 chain re-grouped by arrival window
    val inner = t42Sql.replace("ORDER BY doc_id", "")
    s"""WITH t42 AS ($inner)
       |SELECT CAST(doc_id // $CharsetBatch AS BIGINT) AS wnd,
       |  CAST(COUNT(*) AS BIGINT) AS n_arrivals,
       |  CAST(SUM(CASE WHEN charset_class = 'utf-8' THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_utf8,
       |  CAST(SUM(CASE WHEN charset_class = 'ascii' THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_ascii,
       |  CAST(SUM(CASE WHEN charset_class = 'legacy' THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_legacy
       |FROM t42 GROUP BY 1 ORDER BY wnd""".stripMargin
  }

  // ---- t43: sentence segmentation (abbreviation-aware) ---------------

  /** The sentinel that protects abbreviation dots from the sentence
    * splitter — replaces the '.' 1:1 so sentence char counts stay
    * faithful to the abbreviation-included text. */
  private[operators] val AbbrevSentinel = "\u0001"

  /** t43: SENTENCE segmentation — the unit every C4/Gopher-class
    * quality gate is phrased in (C4 keeps pages with >= 3 sentences;
    * sentence-length floors/caps are Gopher repetition-family
    * signals) but which t02/t24's word-level stats cannot see. The
    * splitter is the production shape: PROTECT abbreviation dots
    * first (capitalized single-dot forms — `\b(Dr|No|St)\.` — become
    * a 1:1 sentinel so "Dr. smith" never splits), then split on
    * terminator runs `[.!?]+ +` (the trailing terminator stripped
    * first so no empty tail piece). Both regex passes are
    * RE2-portable — NO lookbehind, the Java-regex crutch `(?<=[.!?])`
    * that an oracle could never replay — so both engines run the
    * byte-identical pipeline.
    *
    * The corpus is punctuation-free by construction, so sentence
    * structure is PLANTED the t40 way (deterministic per-word
    * transforms both engines compute from the shared word list):
    * every 7th gap becomes a terminator cycling ./!/? by gap index,
    * every 11th word gains a leading abbreviation cycling
    * Dr./No./St. (capitalized forms cannot collide with the
    * all-lowercase corpus words), one final '.'. That makes the
    * expected sentence count STRUCTURAL — (n_words-1) div 7 + 1 —
    * and `split_ok` pins the round trip on every row: planted
    * terminators split, planted abbreviations don't.
    *
    * Report: per-doc sentence count, exact micro mean/max sentence
    * chars, and the C4 >= 3-sentence admission flag. One pass of
    * whole-stage-codegen'd map work (transform/filter/aggregate HOFs
    * over the word and sentence lists — zero joins, zero extra
    * shuffles beyond the presentation sort); parallelism is
    * embarrassing at 100 TB. */
  def t43SentenceSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), trim(col("text")).as("txt"))
      .withColumn("ws", split(col("txt"), " "))
    val abbrevs = array(lit("Dr. "), lit("No. "), lit("St. "))
    val terms = array(lit(". "), lit("! "), lit("? "))
    val pieces = transform(col("ws"), (w, i0) => {
      val i = i0 + 1
      // exact integer i div k for the cycle index (nonneg, < 2^31 —
      // the double division is exact; cast truncates = floors)
      def cyc(k: Int): Column =
        pmod(((i - pmod(i, lit(k))) / lit(k)).cast("int"), lit(3)) + 1
      val body = when(pmod(i, lit(11)) === 3,
        concat(element_at(abbrevs, cyc(11)), w)).otherwise(w)
      val sep = when(i < size(col("ws")),
        when(pmod(i, lit(7)) === 0, element_at(terms, cyc(7)))
          .otherwise(lit(" ")))
        .otherwise(lit(""))
      concat(body, sep)
    })
    docs
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("planted", concat(array_join(pieces, ""), lit(".")))
      .withColumn("prot", regexp_replace(col("planted"),
        "\\b(Dr|No|St)\\.", "$1" + AbbrevSentinel))
      .withColumn("sents", filter(
        split(regexp_replace(col("prot"), "[.!?]+$", ""), "[.!?]+ +"),
        s => length(s) > 0))
      .withColumn("n_sentences", size(col("sents")).cast("long"))
      .withColumn("sum_chars", aggregate(col("sents"), lit(0L),
        (acc, s) => acc + length(s).cast("long")))
      .select(col("doc_id"), col("n_sentences"),
        expr("(sum_chars * 1000000) div n_sentences")
          .as("mean_chars_micro"),
        array_max(transform(col("sents"), s => length(s).cast("long")))
          .as("max_sent_chars"),
        when(col("n_sentences") >= 3, 1L).otherwise(0L).as("keep_c4"),
        when(col("n_sentences") ===
          expr("(n_words - 1) div 7") + lit(1L), 1L).otherwise(0L)
          .as("split_ok"))
      .orderBy(col("doc_id"))
  }

  lazy val t43Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(text) AS txt FROM documents
       |  WHERE length(trim(text)) > 0),
       |w AS (
       |  SELECT doc_id, string_split(txt, ' ') AS ws FROM d),
       |p AS (
       |  SELECT doc_id, len(ws) AS n_words,
       |    array_to_string(list_transform(ws, (x, i) ->
       |      (CASE WHEN i % 11 = 3
       |        THEN ['Dr. ', 'No. ', 'St. '][((i // 11) % 3) + 1]
       |        ELSE '' END)
       |      || x
       |      || (CASE WHEN i < len(ws)
       |        THEN (CASE WHEN i % 7 = 0
       |          THEN ['. ', '! ', '? '][((i // 7) % 3) + 1]
       |          ELSE ' ' END)
       |        ELSE '' END)), '') || '.' AS planted
       |  FROM w),
       |s AS (
       |  SELECT doc_id, n_words,
       |    list_filter(string_split_regex(
       |      regexp_replace(
       |        regexp_replace(planted, '\\b(Dr|No|St)\\.',
       |          '\\1$AbbrevSentinel', 'g'),
       |        '[.!?]+$$', ''),
       |      '[.!?]+ +'), x -> length(x) > 0) AS sents
       |  FROM p)
       |SELECT doc_id,
       |  CAST(len(sents) AS BIGINT) AS n_sentences,
       |  (CAST(list_sum(list_transform(sents, x -> length(x)))
       |    AS BIGINT) * 1000000) // len(sents) AS mean_chars_micro,
       |  CAST(list_max(list_transform(sents, x -> length(x)))
       |    AS BIGINT) AS max_sent_chars,
       |  CAST(CASE WHEN len(sents) >= 3 THEN 1 ELSE 0 END AS BIGINT)
       |    AS keep_c4,
       |  CAST(CASE WHEN len(sents) = (n_words - 1) // 7 + 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS split_ok
       |FROM s ORDER BY doc_id""".stripMargin

  // ---- t44: cross-document LINE dedup (boilerplate lines) ------------

  /** A line is boilerplate when it appears in at least this many
    * DISTINCT documents (RefinedWeb / CCNet's line-frequency rule —
    * doc-frequency, not occurrence count, so a line repeated inside
    * one page never trips it). */
  val LineMinDocs = 10

  /** t44: cross-document LINE dedup — the RefinedWeb/CCNet cleaning
    * pass t11's n-gram strip does NOT express: t11 removes positions
    * covered by corpus-common trigrams (sub-line granularity), while
    * the line rule removes WHOLE repeated lines (nav menus, cookie
    * banners, "all rights reserved" footers) and never tears a
    * sentence — the two run back to back in production. A line dies
    * when its DOC-frequency reaches [[LineMinDocs]]; survivors
    * reassemble in original order.
    *
    * The corpus has no newlines, so line structure is PLANTED the
    * t40 way, both engines building the identical page from the
    * shared word list: body lines of 8 words, a header line cycling
    * 5 per-source newsletter variants (each shared by ~N/5 docs —
    * well past the threshold), a footer line shared by ALL docs.
    * `body_exact` pins clean_text == the body lines alone — header
    * and footer removed, nothing torn. It is 1 on every sf0.01 row;
    * at sf0.1 the rule ADDITIONALLY fires on 626 naturally-recurring
    * 8-word lines (the op working as designed on a larger corpus —
    * hash-verified, the engines agree line-for-line). The op's real
    * POSTCONDITION is exact at both scales: the cleaned corpus holds
    * zero lines at doc-frequency >= the threshold.
    *
    * Plan: posexplode(lines) → ONE line-keyed exact-distinct
    * doc-frequency aggregate → frequency re-attaches by a HINTED
    * shuffle join (both sides corpus-scaling and aggregate-derived —
    * the t11/d16 never-guess-broadcast rule) → per-doc reassembly
    * from collect_list(struct(pos, line)) sorted IN the aggregation
    * buffer (sort bounded by doc length, never corpus — the q62
    * discipline). Two keyed shuffles + the presentation sort total;
    * line keys shard evenly at 100 TB (the hot boilerplate keys are
    * the SMALL side of the frequency relation, never a skewed join
    * build). */
  def t44LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), trim(col("text")).as("txt"))
      .withColumn("ws", split(col("txt"), " "))
    val header = concat(lit("subscribe to source "),
      pmod(col("doc_id"), lit(5)).cast("string"), lit(" newsletter"))
    val bodyLines = transform(
      sequence(lit(1), expr("(size(ws) + 7) div 8")),
      k => array_join(slice(col("ws"), (k - 1) * 8 + 1, lit(8)), " "))
    val paged = docs
      .withColumn("body_text", array_join(bodyLines, "\n"))
      .withColumn("lines", concat(array(header), bodyLines,
        array(lit("all rights reserved"))))
    val ex = paged.select(col("doc_id"), col("body_text"),
        posexplode(col("lines")).as(Seq("pos0", "line")))
    val freq = ex.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = ex.join(freq.hint("shuffle_hash"), Seq("line"))
      .filter(col("df") < LineMinDocs)
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos0"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
    paged.select(col("doc_id"), col("body_text"),
        size(col("lines")).cast("long").as("n_lines"))
      // rebuilt is aggregate-derived and CORPUS-scaling (one row per
      // doc) — hint the shuffled build so Catalyst never
      // guesses-small and broadcasts it (the t11/d16 bug class; the
      // r15 plan gate caught the unhinted form)
      .join(rebuilt.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        when(coalesce(col("clean_text"), lit("")) === col("body_text"),
          1L).otherwise(0L).as("body_exact"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  lazy val t44Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, trim(text) AS txt FROM documents
       |  WHERE length(trim(text)) > 0),
       |w AS (
       |  SELECT doc_id, string_split(txt, ' ') AS ws FROM d),
       |pg AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      generate_series(1, (len(ws) + 7) // 8),
       |      k -> array_to_string(list_slice(ws, (k-1)*8 + 1, k*8),
       |        ' ')), chr(10)) AS body_text,
       |    ['subscribe to source ' || CAST(doc_id % 5 AS VARCHAR)
       |        || ' newsletter']
       |      || list_transform(generate_series(1, (len(ws) + 7) // 8),
       |        k -> array_to_string(list_slice(ws, (k-1)*8 + 1, k*8),
       |          ' '))
       |      || ['all rights reserved'] AS lines
       |  FROM w),
       |ex AS (
       |  SELECT doc_id, body_text, unnest(lines) AS line,
       |    unnest(generate_series(1, len(lines))) AS pos
       |  FROM pg),
       |freq AS (
       |  SELECT line, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
       |kept AS (
       |  SELECT e.doc_id, e.pos, e.line FROM ex e
       |  JOIN freq f ON e.line = f.line WHERE f.df < $LineMinDocs),
       |reb AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT p.doc_id, CAST(len(p.lines) AS BIGINT) AS n_lines,
       |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(p.lines) - COALESCE(r.n_kept, 0) AS BIGINT)
       |    AS n_removed,
       |  CAST(CASE WHEN COALESCE(r.clean_text, '') = p.body_text
       |    THEN 1 ELSE 0 END AS BIGINT) AS body_exact,
       |  COALESCE(r.clean_text, '') AS clean_text
       |FROM pg p LEFT JOIN reb r ON p.doc_id = r.doc_id
       |ORDER BY p.doc_id""".stripMargin
}
