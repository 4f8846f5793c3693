package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pins, Tables}
import graft.functions.TextFunctions

/** Retrieval operators over the documents corpus (SURVEY.md §2d):
  * inverted-index build, TF-IDF keyword extraction, BM25 ranked
  * retrieval. The relations a search-over-training-data stack needs —
  * postings, document frequencies, length-normalized scores — built
  * as declarative plans whose only corpus-wide shuffles are the
  * (term, doc) aggregate and the per-term document-frequency join.
  *
  * Reference scope: map2db.py has no text-retrieval surface; these
  * operators extend the engine along the training-data-pipeline axis
  * (BM25: Robertson/Spärck Jones probabilistic relevance framework,
  * public algorithm).
  */
object Retrieval {

  /** (doc_id, pos, term) token relation — the single corpus-wide
    * explode every retrieval op starts from. pos is 1-based to match
    * the oracle's generate_series. */
  private def tokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      posexplode(TextFunctions.words(col("text")))
        .as(Seq("pos0", "term")))
    .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
      col("term"))

  private val tokSql: String = {
    val w = TextFunctions.wordsSql
    s"""w AS (SELECT doc_id, $w AS ws FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ws) AS term,
       |    unnest(generate_series(1, len(ws))) AS pos
       |  FROM w)""".stripMargin
  }

  // ---- t14: inverted index build ------------------------------------

  /** t14: the postings relation itself — term → (doc, tf, first
    * position) plus per-term document frequency. One (term, doc_id)
    * aggregate builds the postings; df is a second aggregate over the
    * (already term-keyed) postings, re-attached by a SHUFFLED
    * equi-join — df is aggregate-derived and vocabulary-scale, so a
    * statless broadcast of it would OOM at corpus scale (the t11/d16
    * bug class; hint pins the safe build). Both shuffles hash on
    * `term`, so at 100 TB the index construction is two map-side-
    * combined passes over the token stream and nothing else. */
  def t14Postings(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(Tables.load(spark, dir, "documents"))
    val post = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post.join(dfreq.hint("shuffle_hash"), Seq("term"))
      .select(col("term"), col("df"), col("doc_id"), col("tf"),
        col("first_pos"))
      .orderBy(col("term"), col("doc_id"))
  }

  val t14Sql: String =
    s"""WITH $tokSql,
       |p AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       |    CAST(min(pos) AS BIGINT) AS first_pos
       |  FROM tok GROUP BY 1, 2),
       |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |      FROM p GROUP BY 1)
       |SELECT p.term, d.df, p.doc_id, p.tf, p.first_pos
       |FROM p JOIN d USING (term)
       |ORDER BY p.term, p.doc_id""".stripMargin

  // ---- t12: TF-IDF keyword extraction -------------------------------

  /** Keywords kept per document. */
  val TfidfTopK = 3

  /** t12: top-[[TfidfTopK]] TF-IDF terms per document — the keyword-
    * extraction primitive (smoothed idf = ln((N+1)/(df+1)) + 1,
    * scikit-learn's public formulation). The corpus size N is ONE
    * collected-free scalar riding a broadcast cross join (the same
    * bounded-literal pattern as d23's bin count); df re-attaches by
    * shuffled equi-join as in t14. The final ranking windows PER
    * DOCUMENT — partition size is bounded by document length, never
    * by corpus size, so the sort survives any scale-up. Score is
    * rounded to 6 decimals BEFORE ranking so the rank itself is
    * reproducible across engines. */
  def t12Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = tokens(docs)
    val post = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    post.join(dfreq.hint("shuffle_hash"), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", round(
        col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1))
            + lit(1.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t12Sql: String =
    s"""WITH $tokSql,
       |p AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |      FROM p GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |sc AS (
       |  SELECT p.doc_id, p.term, p.tf, d.df,
       |    ROUND(CAST(p.tf AS DOUBLE) *
       |      (ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) + 1.0), 6)
       |      AS score
       |  FROM p JOIN d USING (term) CROSS JOIN n),
       |r AS (
       |  SELECT doc_id, term, tf, df, score, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
       |  FROM sc)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
       |FROM r WHERE rank <= $TfidfTopK
       |ORDER BY doc_id, rank""".stripMargin

  // ---- t13: BM25 ranked retrieval -----------------------------------

  val BmK1 = 1.2
  val BmB = 0.75

  /** Query terms swept (the head of the non-stopword vocabulary). */
  val BmQueryTerms = 16

  /** Results kept per query term. */
  val BmTopK = 5

  /** t13: BM25 retrieval — for each of the [[BmQueryTerms]] most
    * frequent non-stopword terms, the [[BmTopK]] highest-scoring
    * documents under Okapi BM25 (k1=[[BmK1]], b=[[BmB]], idf =
    * ln(1 + (N − df + 0.5)/(df + 0.5))). The postings build is
    * t14's; the query-term relation is LIMIT-bounded (16 rows — the
    * t09 head-vocabulary pattern) so it broadcasts against the
    * postings and only the query terms' postings flow further; the
    * corpus stats (N, Σdl) are one scalar row on a broadcast cross
    * join. Per-term ranking runs in the bounded TopK heap — ≤5 rows
    * per term per partition cross the shuffle, no window sorts a
    * term's full (corpus-sized, for head terms) posting list. Scores
    * round to 6 decimals before ranking, ties break to the lower
    * doc_id on both engines. */
  def t13Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val toks = tokens(docs)
    val post = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(TextFunctions.words(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("dl_sum"))
    val qterms = toks
      .filter(!col("term").isin(TextAnalysis.EnStopwords: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term")).limit(BmQueryTerms)
      .select(col("term"))
    val scored = post.join(broadcast(qterms), Seq("term"))
      .join(dfreq.hint("shuffle_hash"), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("dl_sum").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score", round(
        (col("idf") * (col("tf") * lit(BmK1 + 1))) /
          (col("tf") + lit(BmK1) *
            (lit(1.0 - BmB) + lit(BmB) * col("dl") / col("avgdl"))), 6))
    val agg = new TopK.TopKAgg(BmTopK)
    scored
      .select(col("term"),
        struct(col("score"), col("doc_id").as("id")).as("e"))
      .as[(String, TopK.Entry)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("top"))
      .toDF("term", "top")
      .select(col("term"), posexplode(col("top.entries")))
      .select(col("term"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy(col("term"), col("rank"))
  }

  val t13Sql: String = {
    val stop = TextAnalysis.EnStopwords
      .map(s => s"'$s'").mkString("(", ", ", ")")
    // interpolated constants print Scala's shortest-round-trip double
    // form, so DuckDB parses back the bit-identical value
    s"""WITH $tokSql,
       |p AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |      FROM p GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS dl_sum
       |  FROM w),
       |qt AS (
       |  SELECT term FROM (
       |    SELECT term, count(*) AS cf FROM tok
       |    WHERE term NOT IN $stop
       |    GROUP BY 1 ORDER BY cf DESC, term LIMIT $BmQueryTerms)),
       |sc AS (
       |  SELECT p.term, p.doc_id,
       |    ROUND((ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
       |        * (p.tf * ${BmK1 + 1})) /
       |      (p.tf + $BmK1 * (${1.0 - BmB} + $BmB * dl.dl /
       |        (CAST(st.dl_sum AS DOUBLE) / st.n_docs))), 6) AS score
       |  FROM p
       |  JOIN qt USING (term)
       |  JOIN d USING (term)
       |  JOIN dl USING (doc_id)
       |  CROSS JOIN st),
       |r AS (
       |  SELECT term, doc_id, score, ROW_NUMBER() OVER (
       |    PARTITION BY term ORDER BY score DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT term, CAST(rank AS BIGINT) AS rank, doc_id, score
       |FROM r WHERE rank <= $BmTopK
       |ORDER BY term, rank""".stripMargin
  }

  // ---- t15: unigram log-probability scoring -------------------------

  /** Fixed-point scale for per-term log-probabilities. */
  val LpScale = 1000000L

  /** t15: perplexity-proxy quality scoring — the CCNet-style "how
    * language-model-likely is this document" filter, with the LM
    * stubbed by the corpus's own unigram model: score(doc) = mean
    * over tokens of ln p(term). The one transcendental evaluates on
    * the VOCABULARY relation and is immediately quantized to the
    * [[LpScale]] grid (floor — one bounded ln per distinct term, the
    * k-means trick applied to text), so every corpus-sized sum is
    * exact integer arithmetic: partitioning-invariant and
    * oracle-replayable. Plan shape: one token aggregate for counts,
    * the 1-row total on a broadcast cross join, the per-term table
    * re-attached by SHUFFLED equi-join (vocabulary-scale aggregate
    * output), one per-doc sum. */
  def t15UnigramLp(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(Tables.load(spark, dir, "documents"))
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("total"))
    val lpq = cf.crossJoin(broadcast(tot))
      .select(col("term"),
        floor(lit(LpScale.toDouble) *
          log(col("cf").cast("double") / col("total")))
          .cast("long").as("lp_q"))
    toks.join(lpq.hint("shuffle_hash"), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp_q")).cast("long").as("lp_sum"))
      .withColumn("mean_lp", round(
        col("lp_sum").cast("double") / col("n_tokens")
          / lit(LpScale.toDouble), 6))
      .select(col("doc_id"), col("n_tokens"), col("lp_sum"),
        col("mean_lp"))
      .orderBy(col("doc_id"))
  }

  val t15Sql: String =
    s"""WITH $tokSql,
       |cf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cf
       |  FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM cf),
       |lp AS (
       |  SELECT term, CAST(FLOOR(${LpScale}.0 *
       |    ln(CAST(cf AS DOUBLE) / total)) AS BIGINT) AS lp_q
       |  FROM cf CROSS JOIN tt)
       |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(lp.lp_q) AS BIGINT) AS lp_sum,
       |  ROUND(CAST(sum(lp.lp_q) AS DOUBLE) / count(*)
       |    / ${LpScale}.0, 6) AS mean_lp
       |FROM tok JOIN lp USING (term)
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  // ---- t16: bigram interpolated LM scoring --------------------------

  /** Interpolation weights: p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/T. */
  val BgLambda = 0.75

  /** t16: bigram-LM quality scoring — t15's perplexity proxy upgraded
    * to the interpolated bigram model (Jelinek–Mercer smoothing,
    * public formulation): fluent word ORDER now scores above bag-of-
    * words likelihood, which is what separates real prose from
    * shuffled tokens. Same exactness discipline as t15: the ln
    * evaluates once per BIGRAM-VOCABULARY row and quantizes to the
    * [[LpScale]] grid immediately — the two interior divisions are
    * exact-int-operand IEEE ops, identical on both engines — so every
    * corpus-sized sum is integer. Plan shape: two token aggregates
    * (unigram, bigram), the 1-row total on a broadcast cross join,
    * the per-bigram table re-attached by shuffled equi-join, one
    * per-doc sum. Docs with no bigram (single-word) drop out with
    * the inner join. */
  def t16BigramLp(spark: SparkSession, dir: String): DataFrame =
    bigramLp(Tables.load(spark, dir, "documents"))

  /** Core of t16 on any (doc_id, text) relation — the model trains on
    * the relation it scores (the corpus-self-scoring convention t15
    * set). The spec scores a word-REVERSED copy of the corpus under
    * the NATURAL model ([[scoreBigrams]] with [[bigramModel]]) to pin
    * that word order is what's measured. */
  def bigramLp(docs: DataFrame): DataFrame =
    scoreBigrams(docs, bigramModel(docs))

  /** The quantized per-bigram log-prob table (bg, lp_q): seen-bigram
    * vocabulary with Jelinek–Mercer interpolation against the unigram
    * floor. Unseen transitions score as pure-unigram backoff in
    * [[scoreBigrams]]. */
  def bigramModel(docs: DataFrame): DataFrame = {
    val toks = tokens(docs)
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("total"))
    val bgs = docs.select(col("doc_id"),
      explode(TextFunctions.bigrams(col("text"))).as("bg"))
    val cbg = bgs.groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
    cbg
      .join(cf.select(col("term"), col("cf").as("c1")).hint("shuffle_hash"),
        substring_index(col("bg"), " ", 1) === col("term"))
      .drop("term")
      .join(cf.select(col("term"), col("cf").as("c2")).hint("shuffle_hash"),
        substring_index(col("bg"), " ", -1) === col("term"))
      .drop("term")
      .crossJoin(broadcast(tot))
      .select(col("bg"),
        floor(lit(LpScale.toDouble) * log(
          lit(BgLambda) * (col("cbg").cast("double") / col("c1")) +
            lit(1.0 - BgLambda) *
              (col("c2").cast("double") / col("total"))))
          .cast("long").as("lp_q"))
  }

  /** Score each doc's transitions under an existing (bg, lp_q) model
    * table. Transitions absent from the model drop out (the
    * registered self-scored form has none; the spec's reversed-corpus
    * probe reports its OOV count separately). */
  def scoreBigrams(docs: DataFrame, lp: DataFrame): DataFrame = {
    val bgs = docs.select(col("doc_id"),
      explode(TextFunctions.bigrams(col("text"))).as("bg"))
    bgs.join(lp.hint("shuffle_hash"), Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(col("lp_q")).cast("long").as("lp_sum"))
      .withColumn("mean_lp", round(
        col("lp_sum").cast("double") / col("n_trans")
          / lit(LpScale.toDouble), 6))
      .select(col("doc_id"), col("n_trans"), col("lp_sum"),
        col("mean_lp"))
      .orderBy(col("doc_id"))
  }

  val t16Sql: String =
    s"""WITH $tokSql,
       |cf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cf
       |  FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM cf),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
       |    list_transform(generate_series(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1])
       |    ELSE [] END) AS bg
       |  FROM w),
       |cbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS cbg
       |        FROM bg GROUP BY 1),
       |lp AS (
       |  SELECT cbg.bg, CAST(FLOOR(${LpScale}.0 * ln(
       |      $BgLambda * (CAST(cbg.cbg AS DOUBLE) / c1.cf) +
       |      ${1.0 - BgLambda} * (CAST(c2.cf AS DOUBLE) / tt.total)))
       |    AS BIGINT) AS lp_q
       |  FROM cbg
       |  JOIN cf c1 ON c1.term = split_part(cbg.bg, ' ', 1)
       |  JOIN cf c2 ON c2.term = split_part(cbg.bg, ' ', 2)
       |  CROSS JOIN tt)
       |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_trans,
       |  CAST(sum(lp.lp_q) AS BIGINT) AS lp_sum,
       |  ROUND(CAST(sum(lp.lp_q) AS DOUBLE) / count(*)
       |    / ${LpScale}.0, 6) AS mean_lp
       |FROM bg JOIN lp USING (bg)
       |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin

  // ---- t21: PMI collocation extraction ------------------------------

  /** Collocations kept / minimum bigram support for t21. */
  val PmiTopK = 20
  val PmiMinCount = 5

  /** t21: pointwise-mutual-information collocations — the corpus's
    * top bound phrases: PMI = ln(c(ab)·T / (c(a)·c(b))), the
    * association measure (Church & Hanks) that separates "strong
    * glue" pairs from merely-frequent ones; phrase mining feeds
    * tokenizer-merge candidates and boilerplate phrase lists from
    * exactly this relation. Min support [[PmiMinCount]] drops the
    * hapax pairs whose PMI is pure noise.
    *
    * Exactness: both products stay exact (c(ab)·T and c(a)·c(b)
    * under 2⁵³ through corpus scales where per-term counts are
    * ≤ ~10⁷ — stated bound), so the ln argument is ONE division of
    * two exact doubles and the quantized pmi_q is integer-
    * comparable. Ranking is the bounded heap (one t05-style global
    * top-k, never a full sort); rank ties break by bigram. */
  def t21PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val toks = tokens(docs)
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("total"))
    val cbg = docs.select(explode(TextFunctions.bigrams(col("text")))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
      .filter(col("cbg") >= PmiMinCount)
    val scored = cbg
      .join(cf.select(col("term"), col("cf").as("c1")).hint("shuffle_hash"),
        substring_index(col("bg"), " ", 1) === col("term"))
      .drop("term")
      .join(cf.select(col("term"), col("cf").as("c2")).hint("shuffle_hash"),
        substring_index(col("bg"), " ", -1) === col("term"))
      .drop("term")
      .crossJoin(broadcast(tot))
      .select(col("bg"), col("cbg"),
        floor(lit(LpScale.toDouble) * log(
          (col("cbg") * col("total")).cast("double") /
            (col("c1") * col("c2")).cast("double")))
          .cast("long").as("pmi_q"))
    val agg = new TopK.TopKStrAgg(PmiTopK)
    scored
      .select(col("pmi_q").as("score"), col("bg").as("tag"))
      .as[TopK.SEntry]
      .groupByKey(_ => 0)
      .agg(agg.toColumn.name("top"))
      .toDF("g", "top")
      .select(posexplode(col("top.entries")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.tag").as("bigram"), col("col.score").as("pmi_q"))
      .join(cbg.withColumnRenamed("bg", "bigram").hint("shuffle_hash"),
        Seq("bigram"))
      .select(col("rank"), col("bigram"), col("cbg").as("n_ab"),
        col("pmi_q"),
        (col("pmi_q").cast("double") / LpScale).as("pmi"))
      .orderBy(col("rank"))
  }

  val t21Sql: String =
    s"""WITH $tokSql,
       |cf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cf
       |  FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM cf),
       |bg AS (
       |  SELECT unnest(CASE WHEN len(ws) >= 2 THEN
       |    list_transform(generate_series(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1])
       |    ELSE [] END) AS bg
       |  FROM w),
       |cbg AS (
       |  SELECT bg, CAST(count(*) AS BIGINT) AS cbg
       |  FROM bg GROUP BY 1 HAVING count(*) >= $PmiMinCount),
       |sc AS (
       |  SELECT cbg.bg, cbg.cbg,
       |    CAST(FLOOR(${LpScale}.0 * ln(
       |      CAST(cbg.cbg * tt.total AS DOUBLE) /
       |      CAST(c1.cf * c2.cf AS DOUBLE))) AS BIGINT) AS pmi_q
       |  FROM cbg
       |  JOIN cf c1 ON c1.term = split_part(cbg.bg, ' ', 1)
       |  JOIN cf c2 ON c2.term = split_part(cbg.bg, ' ', 2)
       |  CROSS JOIN tt),
       |r AS (
       |  SELECT bg, cbg, pmi_q, ROW_NUMBER() OVER (
       |    ORDER BY pmi_q DESC, bg) AS rank
       |  FROM sc)
       |SELECT CAST(rank AS BIGINT) AS rank, bg AS bigram,
       |  cbg AS n_ab, pmi_q,
       |  CAST(pmi_q AS DOUBLE) / $LpScale AS pmi
       |FROM r WHERE rank <= $PmiTopK
       |ORDER BY rank""".stripMargin

  // ---- t17: Zipf rank-frequency diagnostics -------------------------

  /** t17: per-source Zipf slope — the corpus-health diagnostic: fit
    * ln(freq) against ln(rank) over each source's term-frequency
    * table and report the least-squares slope. Natural language sits
    * near −1 (Zipf's law); machine-generated or template-spam
    * sources flatten (slope → 0) or collapse to a few heads — a
    * cheap, model-free "does this source look like language" signal
    * corpus curation pipelines gate ingest with.
    *
    * Exactness: both lns evaluate on the per-source VOCABULARY
    * relation (bounded — the t15 discipline) and quantize to the
    * [[LpScale]] grid immediately, so the regression moments are
    * exact integer sums and the final slope is one BIGINT÷BIGINT
    * IEEE division, identical on any engine or partitioning. Moment
    * products stay under 2⁶³ for vocabularies to ~10⁵ terms per
    * source (x,y ≤ ln(10⁸)·10⁶ < 2·10⁷; n·Σxy < 10⁵·10⁵·4·10¹⁴ is
    * out of range only past that — the per-source vocab here is
    * double-digit). Rank ties break by term so the rank assignment
    * is total.
    *
    * Plan shape: one (source, term) aggregate (map-side combined),
    * a per-source rank window over the vocabulary relation (bounded
    * partitions — the t12 class, never corpus-sized), one per-source
    * moment aggregate. Single-term sources have zero rank variance
    * (slope undefined) and are dropped by the n ≥ 2 filter. */
  def t17ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("source"),
      explode(TextFunctions.words(col("text"))).as("term"))
    val tf = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val rnk = tf.withColumn("rank", row_number().over(
      Window.partitionBy(col("source"))
        .orderBy(col("tf").desc, col("term"))))
    val q = rnk.select(col("source"),
      floor(lit(LpScale.toDouble) * log(col("rank").cast("double")))
        .cast("long").as("x"),
      floor(lit(LpScale.toDouble) * log(col("tf").cast("double")))
        .cast("long").as("y"))
    q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_terms") >= 2)
      .select(col("source"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("zipf_slope"))
      .orderBy(col("source"))
  }

  val t17Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH tok AS (
       |  SELECT source, unnest($w) AS term FROM documents),
       |tf AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |rnk AS (
       |  SELECT source, tf, ROW_NUMBER() OVER (
       |    PARTITION BY source ORDER BY tf DESC, term) AS rank
       |  FROM tf),
       |q AS (
       |  SELECT source,
       |    CAST(FLOOR(${LpScale}.0 * ln(CAST(rank AS DOUBLE)))
       |      AS BIGINT) AS x,
       |    CAST(FLOOR(${LpScale}.0 * ln(CAST(tf AS DOUBLE)))
       |      AS BIGINT) AS y
       |  FROM rnk),
       |m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM q GROUP BY 1)
       |SELECT source, n_terms,
       |  ROUND(CAST(n_terms * sxy - sx * sy AS DOUBLE) /
       |    CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
       |FROM m WHERE n_terms >= 2
       |ORDER BY source""".stripMargin
  }

  /** d52 chunk geometry: window of [[ChunkW]] tokens advancing by
    * [[ChunkS]] — the 8-token overlap keeps answers that straddle a
    * boundary retrievable from at least one chunk. */
  val ChunkW = 32
  val ChunkS = 24

  /** d52: document chunking for retrieval — the prep step every
    * RAG / embedding pipeline runs before vectorizing: split each
    * document into overlapping fixed-size token windows, carrying
    * (doc, chunk ordinal, token offset, length, content hash) so the
    * chunk store can be joined back to documents and deduplicated.
    * Stateless per-row explode — no shuffle at all until a consumer
    * aggregates; output is corpus-linear with a small overlap factor
    * (W/S = 4/3). The md5 content hash is the chunk-level dedup key
    * (d01's discipline at sub-document granularity). */
  def d52DocChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("start", explode(expr(
        s"sequence(0, ((n - 1) div $ChunkS) * $ChunkS, $ChunkS)")))
      .withColumn("chunk", slice(col("toks"), col("start") + 1,
        lit(ChunkW)))
      .select(col("doc_id"),
        (col("start") / ChunkS).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_toks"),
        md5(array_join(col("chunk"), " ").cast("binary"))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val d52Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents WHERE len(text) > 0),
       |c AS (
       |  SELECT doc_id, n, toks,
       |    unnest(generate_series(0, ((n - 1) // $ChunkS) * $ChunkS,
       |      $ChunkS)) AS start
       |  FROM t)
       |SELECT doc_id,
       |  CAST(start // $ChunkS AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(len(list_slice(toks, start + 1, start + $ChunkW))
       |    AS BIGINT) AS n_toks,
       |  md5(array_to_string(
       |    list_slice(toks, start + 1, start + $ChunkW), ' '))
       |    AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** d63 document-frequency cap (shared-term candidate generation
    * drops terms in more docs than this) and report threshold. */
  val SparseDfCap = 10L
  val SparseCosMin = 0.5

  /** d63: sparse-cosine document similarity via POSTING-LIST join —
    * the IR-native near-dup/similarity path when there are no
    * embeddings: documents as tf-weighted sparse vectors over
    * 3-word SHINGLE terms (single words saturate on a bounded
    * vocabulary — every word's df exceeds any usable cap; shingles
    * keep the discriminative, low-df dimensions the method needs),
    * dot products assembled from the inverted index (candidates meet
    * ONLY where a shingle is shared — an equi-join on the term, the
    * DISCO/DIMSUM family's shape), never an all-pairs scan.
    *
    * The candidate-volume contract, stated like d49's: pair work is
    * Σ_term df², so COMMON terms are the quadratic hazard — terms
    * with df > [[SparseDfCap]] are dropped from candidate GENERATION
    * (the d02 MaxBucketSize / m05 MaxChunkCopies adjudication; a
    * production run tunes the cap to its df histogram). Cosine is
    * defined over the SAME capped term space on both sides (norms
    * from capped postings) so the score is self-consistent and the
    * oracle replays it digit-for-digit: integer dot/norms, one sqrt
    * each, round 6. Runs over the planted-duplicate corpus (the
    * d02/d24/m05 convention). */
  def d63SparseCosine(spark: SparkSession, dir: String): DataFrame = {
    // post feeds both the df filter and the posting side, and rare
    // feeds the norms plus BOTH sides of the dot-product self-join —
    // without truncation each consumer re-executes the shingle
    // explode + tf aggregate (r16 plan audit: 32 scans / 44
    // exchanges in the initial plan). Checkpoint each once (guide
    // §3.3); rows identical, oracle unchanged.
    val post = Pins.checkpoint(
      Dedup.corpusWithPlants(spark, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 2), " +
            "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf")))
    val rare = Pins.checkpoint(post.join(
      post.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= SparseDfCap)
        .select(col("term"))
        .hint("shuffle_hash"),
      Seq("term")))
    val norms = rare.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = rare.select(col("term"), col("doc_id").as("a_id"),
        col("tf").as("tfa"))
      .join(rare.select(col("term"), col("doc_id").as("b_id"),
        col("tf").as("tfb")).hint("shuffle_hash"), Seq("term"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a_id"),
        col("n2").as("na")).hint("shuffle_hash"), Seq("a_id"))
      .join(norms.select(col("doc_id").as("b_id"),
        col("n2").as("nb")).hint("shuffle_hash"), Seq("b_id"))
      .withColumn("cos", round(col("dot").cast("double")
        / (sqrt(col("na").cast("double"))
          * sqrt(col("nb").cast("double"))), 6) + lit(0.0))
      .filter(col("cos") >= SparseCosMin)
      .select(col("a_id"), col("b_id"), col("dot"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  lazy val d63Sql: String =
    s"""WITH corpus AS (${Dedup.corpusSql}),
       |cw AS (SELECT doc_id, string_split(trim(text), ' ')
       |       AS ws FROM corpus),
       |ctok AS (
       |  SELECT doc_id,
       |    ws[u.i] || ' ' || ws[u.i + 1] || ' ' || ws[u.i + 2] AS term
       |  FROM cw, unnest(generate_series(1, len(ws) - 2)) AS u(i)),
       |p AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM ctok GROUP BY 1, 2),
       |rare AS (
       |  SELECT p.term, p.doc_id, p.tf
       |  FROM p JOIN (SELECT term FROM p GROUP BY term
       |               HAVING COUNT(*) <= $SparseDfCap) d
       |    USING (term)),
       |norms AS (
       |  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
       |  FROM rare GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
       |  FROM rare a JOIN rare b
       |    ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, dot,
       |  ROUND(CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
       |    6) + 0.0 AS cos
       |FROM dots
       |JOIN norms na ON na.doc_id = dots.a_id
       |JOIN norms nb ON nb.doc_id = dots.b_id
       |WHERE ROUND(CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
       |    6) + 0.0 >= $SparseCosMin
       |ORDER BY a_id, b_id""".stripMargin
}
