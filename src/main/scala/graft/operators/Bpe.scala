package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pins, Tables}

/** Distributed byte-pair-encoding merge training + application
  * (SURVEY.md §2d) — the tokenizer-construction step of a training
  *-data pipeline, Spark-first.
  *
  * Training (d43) runs on the WORD-FREQUENCY relation, not the
  * corpus: one corpus aggregate builds (word, freq) — map-side
  * combine absorbs the Zipf head — and every merge round is an
  * aggregate over that bounded vocabulary. Per round exactly ONE
  * (pair, count) row is collected (the d36/d22 bounded-scalar
  * pattern), so 100 TB of text costs one scan plus R vocabulary
  * rounds. Encoding (t23) is the inverse shape: the R learned rules
  * become string-replace literals in a stateless per-word map — no
  * state, no extra shuffle beyond the per-doc re-aggregation.
  *
  * Token sequences are strings of `|`-wrapped symbols ("low" →
  * `"|l| |o| |w|"`). Symbols are [a-z]+ so `|` delimits exactly, and
  * a merge is a plain left-to-right non-overlapping string replace —
  * identical semantics in Spark and DuckDB, which lets the oracle
  * replay training bit-for-bit. Pair COUNTS are non-overlapping
  * occurrence counts (= the number of merges a replace would actually
  * perform), a documented divergence from classic BPE's overlapping
  * adjacency counts ("aaa" counts (a,a) once here, twice in Sennrich
  * et al.); ties break on the lexicographically smallest pair.
  */
object Bpe {

  /** Default merge rounds (the oracle-replayed vocabulary size —
    * rounds are a caller knob, see [[trainMerges]]; graft.BpeTrain
    * commits a 64-round artifact). Vocabulary words outside
    * [MinLen, MaxLen] are excluded from TRAINING (bounds per-word
    * pair work); encoding applies to every [a-z]+ word. */
  val Rounds = 8
  val MinLen = 2
  val MaxLen = 12

  private val Seq0 =
    "array_join(transform(sequence(1, length(word)), " +
      "i -> concat('|', substring(word, i, 1), '|')), ' ')"

  /** (word, freq, seq) with seq the initial char sequence. */
  private def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")).between(MinLen, MaxLen))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seq", expr(Seq0))

  /** One learned rule: the merged pair, its replacement symbol, and
    * the frequency-weighted merge yield that won it the round. */
  final case class Rule(rnd: Int, pair: String, merged: String,
      freq: Long)

  /** Trained rules memo, keyed by (session, dir, rounds): training is
    * train-ONCE per process — d43 (the merge table) and t23 (encode)
    * share one chain instead of re-running it per query, the
    * d22→d25 train→apply discipline. The cached value is a tiny
    * Seq[Rule] (no pinned DataFrames — nothing to release). */
  private val ruleCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int), Seq[Rule]]

  /** Train `rounds` merge rules (memoized — see [[ruleCache]]). Each
    * round: distinct adjacent pairs per vocabulary word, non-overlap
    * counts via the replace-length identity, one frequency-weighted
    * aggregate, one collected (pair, total) scalar; then the merge
    * applies as a string replace and the updated vocabulary is
    * LOCAL-CHECKPOINTED (bounded — |vocab| rows) so the LINEAGE is
    * truncated each round, not just cached: persist alone leaves a
    * rounds-deep plan chain whose analysis cost grows per round and
    * OOMs the driver near 64 rounds (measured) — checkpointing keeps
    * every round's plan one replace deep, which is what makes the
    * loop hold at realistic vocabulary depths (graft.BpeTrain's
    * committed 64-round artifact).
    */
  def trainMerges(spark: SparkSession, dir: String,
      rounds: Int = Rounds): Seq[Rule] =
    ruleCache.getOrElseUpdate((spark, dir, rounds),
      trainMergesUncached(spark, dir, rounds))

  private def trainMergesUncached(spark: SparkSession, dir: String,
      rounds: Int): Seq[Rule] = {
    var seqs = Pins.checkpoint(vocab(spark, dir))
    val rules = Seq.newBuilder[Rule]
    try {
      for (r <- 1 to rounds) {
        val top = seqs
          .withColumn("toks", split(col("seq"), " "))
          .select(col("freq"), col("seq"), explode(expr(
            "array_distinct(zip_with(" +
              "slice(toks, 1, size(toks) - 1), " +
              "slice(toks, 2, size(toks) - 1), " +
              "(a, b) -> concat(a, ' ', b)))")).as("pair"))
          .withColumn("cnt",
            ((length(col("seq")) -
              length(expr("replace(seq, pair, '')"))) /
              length(col("pair"))).cast("long"))
          .groupBy(col("pair"))
          .agg(sum(col("freq") * col("cnt")).as("total"))
          .orderBy(col("total").desc, col("pair"))
          .limit(1).collect()
        if (top.isEmpty) return rules.result()
        val pair = top(0).getString(0)
        val merged = pair.replace("| |", "")
        rules += Rule(r, pair, merged, top(0).getLong(1))
        val prev = seqs
        // eager localCheckpoint: materializes the round AND cuts the
        // plan back to a one-deep scan of the checkpointed blocks
        seqs = Pins.checkpoint(seqs.withColumn("seq",
          expr(s"replace(seq, '$pair', '$merged')")))
        Pins.unpin(prev)
      }
      rules.result()
    } finally Pins.unpin(seqs)
  }

  /** d43: the learned merge table itself — one row per round. */
  def d43BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainMerges(spark, dir).toDF()
      .select(col("rnd"), col("pair"), col("merged"), col("freq"))
      .orderBy(col("rnd"))
  }

  /** t23: encode the corpus under the trained rules — per doc, word
    * count and BPE token count. Training does NOT re-run here: the
    * memoized [[trainMerges]] hands back the already-trained rules
    * (in a Verify/Bench process d43 has trained them), so this query
    * pays ENCODE cost only — the rules are plan literals, and the
    * only shuffle is the per-doc re-aggregation of the word explode.
    * At 100 TB an encode job applies a shipped rule table; it never
    * re-trains. */
  def t23BpeEncode(spark: SparkSession, dir: String): DataFrame =
    t23EncodeWith(spark, dir, trainMerges(spark, dir))

  /** Rules fused per expression step of the iterative encode: the
    * replace chain nests at most this deep, so PLAN depth is bounded
    * by the batch — the rule COUNT becomes a free knob (r12 verdict
    * item 4: a 32k-merge production vocabulary cannot be one nested
    * expression; Catalyst analysis is super-linear in tree depth and
    * the single-expression form stops being viable long before 1k). */
  val EncodeBatch = 16

  /** The encode leg under an explicit rule table — the shippable
    * form (rules from any prior training run, any rounds).
    *
    * Scale shape: encoding is per-word DETERMINISTIC, so the merge
    * chain runs over the DISTINCT word relation only — Zipf makes
    * |vocab| orders of magnitude smaller than corpus occurrences —
    * and the resulting (word → n_tok) table equi-joins back to
    * per-doc word counts. Cost drops from R string replaces × every
    * corpus occurrence to R replaces × |vocab| plus two hash
    * shuffles (word, then doc) the per-occurrence form already paid
    * one of. Results are bit-identical to the per-occurrence chain
    * (measured sf10: 86 s → join-back class).
    *
    * Rule application is ITERATIVE pair-merge over the vocabulary
    * relation, [[EncodeBatch]] replaces fused per step and the
    * relation LOCAL-CHECKPOINTED between steps (the trainMerges
    * lineage discipline): plan depth stays bounded by the batch no
    * matter how many rules ship, so the rule count is a production
    * knob (64 live in t33, 1k+ viable) instead of an expression-tree
    * limit. Replaces apply in training order within and across
    * batches — bit-identical to the fused single-expression chain.
    * The vocab side is an aggregate output with no stats — the join
    * stays shuffled (AQE may still elect broadcast from observed
    * runtime size, which is the safe direction). */
  def t23EncodeWith(spark: SparkSession, dir: String,
      rules: Seq[Rule]): DataFrame = {
    val perDocWord = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n_occ"))
    perDocWord
      .join(vocabTokens(perDocWord, rules).hint("shuffle_hash"),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).cast("long").as("n_words"),
        sum(col("n_tok") * col("n_occ")).cast("long")
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The vocabulary-only iterative merge loop shared by t23/t33/t34:
    * distinct words of `words` encoded under `rules` → (word, n_tok).
    * See [[t23EncodeWith]]'s scaladoc for the scale shape. */
  private def vocabTokens(words: DataFrame, rules: Seq[Rule])
      : DataFrame = {
    val batches = rules.grouped(EncodeBatch).toSeq
    val first = batches.headOption.getOrElse(Nil)
      .foldLeft(Seq0) { (e, ru) =>
        s"replace($e, '${ru.pair}', '${ru.merged}')"
      }
    var enc = words.select(col("word")).distinct()
      .withColumn("enc", expr(first))
    for (batch <- batches.drop(1)) {
      // truncate lineage so the next batch's plan is one replace-chain
      // deep over materialized blocks, not (rules/batch) chains deep
      enc = Pins.checkpoint(enc)
      val applied = batch.foldLeft("enc") { (e, ru) =>
        s"replace($e, '${ru.pair}', '${ru.merged}')"
      }
      enc = enc.withColumn("enc", expr(applied))
    }
    enc.select(col("word"),
      (length(col("enc")) - length(expr("replace(enc, ' ', '')")) + 1)
        .as("n_tok"))
  }

  /** t34: tokenizer FERTILITY per language — the multilingual-equity
    * report every shared-vocabulary tokenizer owes its corpus: under
    * the 64 trained rules, tokens-per-word (fertility) and
    * chars-per-token per language. A vocabulary trained on a
    * mixed-language corpus merges the dominant language's pairs
    * first, so under-represented languages encode at higher
    * fertility — this report is how that bias is measured (and how a
    * per-language token BUDGET is priced). Same vocabulary-only
    * merge loop as t23/t33 (one extra column in the per-doc
    * relation); ratios ship as floor(1e6·a/b) integer micro units —
    * both engines evaluate the identical double expression on exact
    * long operands. */
  def t34Fertility(spark: SparkSession, dir: String): DataFrame = {
    val rules = trainMerges(spark, dir, Rounds64)
    val perDocWord = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("n_occ"))
    perDocWord
      .join(vocabTokens(perDocWord, rules).hint("shuffle_hash"),
        Seq("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_occ")).cast("long").as("n_words"),
        sum(length(col("word")) * col("n_occ")).cast("long")
          .as("n_chars"),
        sum(col("n_tok") * col("n_occ")).cast("long")
          .as("n_bpe_tokens"))
      .withColumn("fertility_micro",
        floor(lit(1000000d) * col("n_bpe_tokens") / col("n_words"))
          .cast("long"))
      .withColumn("chars_per_token_micro",
        floor(lit(1000000d) * col("n_chars") / col("n_bpe_tokens"))
          .cast("long"))
      .orderBy(col("lang"))
  }

  /** Rounds of the PRODUCTION-DEPTH encode key (t33): the committed
    * 64-round training artifact's vocabulary size, applied live. */
  val Rounds64 = 64

  /** t33: the t23 report under 64 trained rules — proves the
    * iterative encode holds at the committed bpe_train64 depth with
    * the full 64-round chain hash-verified against the oracle (r12
    * verdict item 4's "≥64 rules live" bar). Same output schema as
    * t23. */
  def t33BpeEncode64(spark: SparkSession, dir: String): DataFrame =
    t23EncodeWith(spark, dir, trainMerges(spark, dir, Rounds64))

  /** Oracle CTE chain: w0 (vocab) then per round r the pair totals
    * (p_r), the winning rule (t_r), and the merged vocabulary (w_r).
    * Runs under Verify's MATERIALIZED rewrite, so each CTE evaluates
    * once. */
  private def chain: String = chainN(Rounds)

  private def chainN(rounds: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         |    array_to_string(list_transform(
         |      generate_series(1, length(word)),
         |      i -> '|' || substring(word, i, 1) || '|'), ' ') AS seq
         |  FROM (SELECT unnest(string_split_regex(lower(text),
         |          '[^a-z]+')) AS word FROM documents)
         |  WHERE length(word) BETWEEN $MinLen AND $MaxLen
         |  GROUP BY word)""".stripMargin
    val roundsCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT pair, CAST(SUM(freq * cnt) AS BIGINT) AS total
         |  FROM (
         |    SELECT freq, pair,
         |      (length(seq) - length(replace(seq, pair, '')))
         |        // length(pair) AS cnt
         |    FROM (
         |      SELECT freq, seq, unnest(list_distinct(list_transform(
         |        generate_series(1, len(string_split(seq, ' ')) - 1),
         |        i -> string_split(seq, ' ')[i] || ' ' ||
         |             string_split(seq, ' ')[i + 1]))) AS pair
         |      FROM w${r - 1}))
         |  GROUP BY pair),
         |t$r AS (
         |  SELECT pair, replace(pair, '| |', '') AS merged, total
         |  FROM p$r ORDER BY total DESC, pair LIMIT 1),
         |w$r AS (
         |  SELECT word, freq,
         |    replace(seq, (SELECT pair FROM t$r),
         |      (SELECT merged FROM t$r)) AS seq
         |  FROM w${r - 1})""".stripMargin
    }
    (w0 +: roundsCtes).mkString(",\n")
  }

  val d43Sql: String = {
    val union = (1 to Rounds)
      .map(r => s"SELECT $r AS rnd, pair, merged, total AS freq FROM t$r")
      .mkString("\nUNION ALL ")
    s"WITH $chain\nSELECT * FROM ($union) ORDER BY rnd"
  }

  val t23Sql: String = {
    val seq0 =
      """array_to_string(list_transform(generate_series(1, length(word)),
        |      i -> '|' || substring(word, i, 1) || '|'), ' ')"""
        .stripMargin
    val applied = (1 to Rounds).foldLeft(seq0) { (e, r) =>
      s"replace($e, (SELECT pair FROM t$r), (SELECT merged FROM t$r))"
    }
    s"""WITH $chain,
       |words AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text),
       |          '[^a-z]+')) AS word FROM documents)
       |  WHERE length(word) >= 1),
       |enc AS (
       |  SELECT doc_id, $applied AS enc FROM words)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(enc) - length(replace(enc, ' ', '')) + 1)
       |    AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for t33: the 64-round training chain, then the
    * encode applied ITERATIVELY — one CTE stage per rule over the
    * DISTINCT word relation (mirroring the Spark side's vocab-only
    * merge loop; a 64-deep nested replace expression would stress the
    * parser the same way a 64-deep Catalyst tree does). Occurrence
    * counts re-attach by word at the end, exactly like the engine. */
  lazy val t33Sql: String = {
    val seq0 =
      """array_to_string(list_transform(generate_series(1, length(word)),
        |      i -> '|' || substring(word, i, 1) || '|'), ' ')"""
        .stripMargin
    val stages = (1 to Rounds64).map { r =>
      s"""e$r AS (
         |  SELECT word, replace(enc, (SELECT pair FROM t$r),
         |    (SELECT merged FROM t$r)) AS enc FROM e${r - 1})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${chainN(Rounds64)},
       |words AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text),
       |          '[^a-z]+')) AS word FROM documents)
       |  WHERE length(word) >= 1),
       |e0 AS (SELECT DISTINCT word, $seq0 AS enc FROM words),
       |$stages,
       |wt AS (
       |  SELECT word,
       |    length(enc) - length(replace(enc, ' ', '')) + 1 AS n_tok
       |  FROM e$Rounds64)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM words JOIN wt USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for t34: t33's 64-round chain + iterative encode,
    * re-aggregated per language with the micro-ratio columns. */
  lazy val t34Sql: String = {
    val seq0 =
      """array_to_string(list_transform(generate_series(1, length(word)),
        |      i -> '|' || substring(word, i, 1) || '|'), ' ')"""
        .stripMargin
    val stages = (1 to Rounds64).map { r =>
      s"""e$r AS (
         |  SELECT word, replace(enc, (SELECT pair FROM t$r),
         |    (SELECT merged FROM t$r)) AS enc FROM e${r - 1})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${chainN(Rounds64)},
       |words AS (
       |  SELECT doc_id, lang, word
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split_regex(lower(text),
       |          '[^a-z]+')) AS word FROM documents)
       |  WHERE length(word) >= 1),
       |e0 AS (SELECT DISTINCT word, $seq0 AS enc FROM words),
       |$stages,
       |wt AS (
       |  SELECT word,
       |    length(enc) - length(replace(enc, ' ', '')) + 1 AS n_tok
       |  FROM e$Rounds64),
       |agg AS (
       |  SELECT lang,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
       |  FROM words JOIN wt USING (word)
       |  GROUP BY lang)
       |SELECT lang, n_docs, n_words, n_chars, n_bpe_tokens,
       |  CAST(FLOOR(1000000.0 * n_bpe_tokens / n_words) AS BIGINT)
       |    AS fertility_micro,
       |  CAST(FLOOR(1000000.0 * n_chars / n_bpe_tokens) AS BIGINT)
       |    AS chars_per_token_micro
       |FROM agg ORDER BY lang""".stripMargin
  }
}
