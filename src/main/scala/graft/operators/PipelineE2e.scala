package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pins, Tables}
import graft.functions.TextFunctions

/** d21: the whole corpus-prep pipeline as ONE declarative plan
  * (SURVEY.md §2d) — what a training run actually executes before a
  * tokenizer ever sees a byte:
  *
  *   near-dup dedup (keep one rep per cluster) → provenance
  *   re-attach → language + length gate → eval-set decontamination →
  *   temperature-mixture sampling → per-source token accounting.
  *
  * Every stage is an operator this library already ships (d20's
  * survivor algebra, t01-t03's WordStats kernel, d13's gram
  * decontamination, d18's mixture cuts); composing them in one
  * DataFrame lets Catalyst plan the WHOLE pipeline — shared scans,
  * pushed filters, one shuffle per stage boundary — instead of five
  * materialization fences between five jobs. Oracle-verified
  * end-to-end against the same composition in SQL (recursive-CTE
  * clustering included), so the pipeline's DELIVERABLE — per-source
  * document and token mass — is hash-exact across engines.
  */
object PipelineE2e {

  /** Minimum words for the quality gate. */
  val MinWords = 25

  def d21PipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = Dedup.corpusWithPlants(spark, dir)
    // near-dup survivors — d20's algebra over the shared star-reduced
    // clustering backbone (same components as the pairwise path, edge
    // count linear in duplication depth; memoized per session)
    val labels = Dedup.d14Labels(spark, dir)
      .withColumnRenamed("node", "doc_id")
    val survivors = corpus.join(labels, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"), col("text"))
    // provenance re-attach: planted near-dups carry base_id + 10⁶
    val meta = docs.select(col("doc_id").as("base_id"), col("lang"),
      col("source"))
    val attributed = survivors
      .withColumn("base_id", col("doc_id") % 1000000L)
      .join(meta, Seq("base_id"))
    // language + length gate, one WordStats kernel pass reused by the
    // final token accounting
    // gated feeds BOTH the contamination probe and the clean-side
    // anti-join — without truncation each consumer re-executes the
    // survivor join + WordStats kernel pass (r16 plan audit: 16
    // scans / 24 exchanges in the initial plan). One eager
    // checkpoint caps that at one pass (guide §3.3); oracle
    // unchanged.
    val gated = Pins.checkpoint(attributed
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .filter(col("lang") === "en"
        && col("st.n_words") >= MinWords))
    // decontamination: d13's contract — any shared ContamN-gram with
    // the (bounded, broadcastable) eval set; eval docs themselves and
    // their planted mutations leave the train side
    val evalGrams = docs
      .filter(col("doc_id") < TextAnalysis.EvalDocs)
      .select(explode(array_distinct(TextFunctions.wordNgrams(
        col("text"), TextAnalysis.ContamN))).as("gram"))
      .distinct()
    val contaminated = gated
      .select(col("doc_id"), explode(array_distinct(
        TextFunctions.wordNgrams(col("text"), TextAnalysis.ContamN)))
        .as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
    val clean = gated
      .join(contaminated.hint("shuffle_hash"), Seq("doc_id"),
        "left_anti")
      .filter(col("base_id") >= TextAnalysis.EvalDocs)
    // temperature-mixture membership (d18's cut table over the RAW
    // corpus: rates reflect source mass before cleaning, as mixture
    // configs do)
    val sampled = clean
      .join(broadcast(Sampling.mixtureCuts(docs)), Seq("source"))
      .filter(pmod(col("doc_id") * 2654435761L, lit(1000000L))
        < col("cut"))
    // the deliverable: what each source contributes to the mixture
    sampled.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("st.bpe_sum")).cast("long").as("n_tokens"))
      .orderBy(col("source"))
  }

  val d21Sql: String = {
    val w = TextFunctions.wordsSql
    val n = TextAnalysis.ContamN
    val gramParts = (0 until n).map(j => s"ws[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH pairs AS (${Dedup.minhashLshSql}),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |comp AS (
       |  WITH RECURSIVE reach(node, label) AS (
       |    SELECT node, node FROM nodes
       |    UNION
       |    SELECT e.src, r.label FROM edges e
       |      JOIN reach r ON e.dst = r.node)
       |  SELECT node, MIN(label) AS label FROM reach GROUP BY node),
       |corpus AS (${Dedup.corpusSql}),
       |survivors AS (
       |  SELECT c.doc_id, c.text FROM corpus c
       |  LEFT JOIN comp ON c.doc_id = comp.node
       |  WHERE comp.label IS NULL OR comp.label = c.doc_id),
       |attributed AS (
       |  SELECT s.doc_id, s.text, d.lang, d.source,
       |    s.doc_id % 1000000 AS base_id
       |  FROM survivors s
       |  JOIN documents d ON s.doc_id % 1000000 = d.doc_id),
       |gated AS (
       |  SELECT *, $w AS ws FROM attributed
       |  WHERE lang = 'en' AND len($w) >= ${MinWords}),
       |eval_grams AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(CASE WHEN len(ws) >= $n THEN
       |      list_distinct(list_transform(
       |        generate_series(1, len(ws) - ${n - 1}),
       |        i -> $gramParts)) ELSE [] END) AS gram
       |    FROM (SELECT $w AS ws FROM documents
       |          WHERE doc_id < ${TextAnalysis.EvalDocs}))),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(ws) >= $n THEN
       |      list_distinct(list_transform(
       |        generate_series(1, len(ws) - ${n - 1}),
       |        i -> $gramParts)) ELSE [] END) AS gram
       |    FROM gated) g
       |  JOIN eval_grams e ON g.gram = e.gram),
       |clean AS (
       |  SELECT * FROM gated
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND base_id >= ${TextAnalysis.EvalDocs}),
       |cuts AS (
       |  SELECT source,
       |    CAST(FLOOR(LEAST(1.0, ${Sampling.MixtureK}
       |      / SQRT(CAST(SUM(n_chars) AS DOUBLE)))
       |      * 1000000) AS BIGINT) AS cut
       |  FROM documents GROUP BY source),
       |sampled AS (
       |  SELECT cl.* FROM clean cl JOIN cuts cu
       |    ON cl.source = cu.source
       |  WHERE (cl.doc_id * 2654435761) % 1000000 < cu.cut)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(list_sum(list_transform(ws,
       |    x -> CAST(CEIL(length(x) / 4.0) AS BIGINT)))) AS BIGINT)
       |    AS n_tokens
       |FROM sampled GROUP BY source ORDER BY source""".stripMargin
  }
}
