package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Pins, Tables}
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines (SURVEY.md §2d).
  *
  * Scale notes: exact dedup is one hash-groupBy shuffle. MinHash+LSH
  * replaces the O(n²) pair space with band-bucket joins — candidates
  * shuffle only by (band, band_hash), then exact Jaccard verifies the
  * survivors. SimHash reduces each doc to 64 bits for hamming-window
  * dedup. All signature math is built-in HOFs over word shingles
  * (codegen'd; no UDF).
  */
object Dedup {

  /** documents ∪ planted near-duplicates (doc_id+1_000_000, last word
    * dropped) — deterministic corpus used by the near-dup queries so
    * recall is measurable on data that has no natural dups. */
  def corpusWithPlants(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val w = TextFunctions.words(col("text"))
    val mutated = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(w, lit(1), size(w) - 1), " ").as("text"))
    docs.unionByName(mutated)
  }

  val corpusSql: String =
    s"""SELECT doc_id, text FROM documents
       |UNION ALL
       |SELECT doc_id + 1000000 AS doc_id,
       |  array_to_string(list_slice(${TextFunctions.wordsSql}, 1,
       |    len(${TextFunctions.wordsSql}) - 1), ' ') AS text
       |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** d01: exact dedup — content hash groupBy, keep min doc_id. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    corpusWithPlants(spark, dir)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  val exactDedupSql: String =
    s"""SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_id,
       |  COUNT(*) AS n_copies
       |FROM ($corpusSql)
       |GROUP BY 1 ORDER BY text_hash""".stripMargin

  // ---- MinHash + LSH -------------------------------------------------
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4

  /** 32-permutation MinHash signature over 3-gram shingles. Shingles
    * are hashed zero-copy from the document bytes (ShingleHashes) and
    * all minima fold in one allocation-free pass (MinHashSig) — both
    * codegen'd kernels; no string shingle is ever materialized. */
  def withSignature(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles",
        graft.functions.MinHash.shingleHashes(trim(col("text")), 3))
      .withColumn("sig",
        graft.functions.MinHash.minhash(col("shingles"), NumHashes))

  /** Buckets above this size are excluded from the pair join: a
    * degenerate bucket (boilerplate shingled alike n times, or a
    * band-hash collision pile-up) would emit n²/2 candidate pairs and
    * dominate the job. The cap trades RECALL for boundedness — pairs
    * whose only co-bucketing was oversized are silently dropped, and
    * only exact copies among them are guaranteed caught elsewhere (by
    * d01). Monitor [[cappedBuckets]] in production; sf0.1 has no
    * bucket anywhere near the cap, so the oracle comparison is
    * unaffected there. */
  val MaxBucketSize = 10000L

  /** The ONE band/bucket-hash construction both the LSH pipeline and
    * the capped-bucket report use — they must never diverge, or the
    * report describes buckets the pipeline no longer produces.
    * Input must carry (doc_id, sig); output is (doc_id, band, bh). */
  private def banded(signed: DataFrame): DataFrame =
    signed.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band"),
            hash(slice(col("sig"), b * RowsPerBand + 1,
              lit(RowsPerBand))).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bh").as("bh"))

  /** Buckets the cap would drop at `maxBucket` — the report a 100 TB
    * run must watch to know how much recall the cap is costing. */
  def cappedBuckets(spark: SparkSession, dir: String,
      maxBucket: Long = MaxBucketSize): DataFrame =
    banded(withSignature(corpusWithPlants(spark, dir)))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** d02: LSH band buckets → candidate pairs → exact-Jaccard verify.
    * Only bucket-mates ever meet: the shuffle key is (band, hash of
    * 4 signature slots). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshCapped(spark, dir, MaxBucketSize)

  /** The verified pair relation, memoized per (session, dir, cap)
    * through [[graft.Pins]]: repeated d02/d07 invocations reuse ONE
    * pinned pipeline instead of stacking a new persist per call (the
    * round-2 leak). */
  def minhashLshCapped(spark: SparkSession, dir: String,
      maxBucket: Long): DataFrame =
    Pins.memo(spark, ("d02", dir, maxBucket))(
      buildMinhashLsh(spark, dir, maxBucket))
      .orderBy(col("a_id"), col("b_id"))

  private def buildMinhashLsh(spark: SparkSession, dir: String,
      maxBucket: Long): DataFrame = {
    val signed = Pins.persist(withSignature(corpusWithPlants(spark, dir))
      .select(col("doc_id"), col("shingles"), col("sig")), MEMORY_AND_DISK)
    // Keep the banded relation NARROW — (doc_id, band, bh) only — so
    // the bucket self-join and the pair distinct never shuffle the
    // shingle arrays. Shingles re-attach to the (few) candidates.
    val bandedDocs = banded(signed)
    // one narrow aggregate bounds every bucket before the self-join.
    // The surviving-cell list and the candidate pairs below are
    // aggregate-derived (no stats) AND corpus-scaling: unhinted,
    // Catalyst broadcasts them — at mass-duplication scale the pair
    // relation is quadratic in duplication depth and a broadcast of
    // it OOMs the driver. shuffle_hash pins every such build.
    val bounded = bandedDocs.join(
      bandedDocs.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= maxBucket)
        .select(col("band"), col("bh"))
        .hint("shuffle_hash"),
      Seq("band", "bh"))
    val pairs = bounded.as("a").join(
        bounded.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .hint("shuffle_hash")
    val sh = signed.select(col("doc_id"), col("shingles"))
    // persist the verified candidate set (tiny): d07's clustering
    // consumes the same relation, so within one session the whole
    // LSH pipeline runs once and the memo serves both queries
    Pins.persist(pairs
      .join(sh.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("shingles", "sa"), "a_id")
      .join(sh.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("shingles", "sb"), "b_id")
      .withColumn("jaccard", round(
        graft.functions.MinHash.sortedJaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard")), MEMORY_AND_DISK)
  }

  // ---- duplicate clustering -----------------------------------------

  /** Connected components by min-label propagation: every node adopts
    * the smallest id reachable over the (symmetrized) edge set;
    * iterations needed = graph diameter, which for near-dup graphs is
    * tiny (dup clusters are chains/stars, not long paths).
    *
    * The loop body is RDD-based on a FIXED HashPartitioner — the one
    * legitimate RDD case in this codebase: an iterative DataFrame
    * loop re-plans and re-compiles fresh generated code every round
    * (~2 s/iteration of pure overhead), while co-partitioned RDDs
    * make the adjacency⋈labels join narrow and leave exactly ONE
    * shuffle per round (the label messages, combiner-reduced
    * map-side). This is the Pregel execution shape, which is also
    * why it holds at 10⁹ edges: per-round cost is one message
    * shuffle, state never leaves the fixed partitioning. */
  def connectedComponents(edges: DataFrame, a: String, b: String,
      maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(a).cast("long"), col(b).cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new org.apache.spark.HashPartitioner(
      spark.sparkContext.defaultParallelism)
    // adjacency keyed by source, symmetrized, co-partitioned once
    val adj = e.flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .distinct().partitionBy(part).persist(MEMORY_AND_DISK)
    var labels = adj.keys.distinct(part.numPartitions)
      .map(n => (n, n)).partitionBy(part).persist(MEMORY_AND_DISK)
    // convergence = "no node changed label this round", counted
    // EXACTLY by an accumulator (one count() action per round — the
    // same single action the previous label-sum fold cost). A sum
    // comparison could in principle wrap Long at the 100 TB design
    // point (~10⁹ nodes × 10¹⁸-scale ids) and alias a real decrease
    // as "no change"; the changed-count can't. Task recomputation may
    // over-count (accumulator updates in a transformation replay),
    // which at worst runs one extra round — it can never fabricate
    // convergence, because a round where NO label changes has nothing
    // to increment.
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node offers its label to every neighbor; reduceByKey
      // combines map-side, and the result lands on `part` so the
      // leftOuterJoin with labels is narrow
      val msgMin = adj.join(labels)
        .map { case (_, (nbr, lbl)) => (nbr, lbl) }
        .reduceByKey(part, (x: Long, y: Long) => math.min(x, y))
      val changed = spark.sparkContext.longAccumulator("labelsChanged")
      val next = labels.leftOuterJoin(msgMin)
        .mapValues { case (own, m) =>
          val nl = math.min(own, m.getOrElse(Long.MaxValue))
          if (nl != own) changed.add(1L)
          nl }
        .persist(MEMORY_AND_DISK)
      next.count()
      labels.unpersist(blocking = false)
      labels = next
      converged = changed.value == 0L
      i += 1
    }
    adj.unpersist(blocking = false)
    import spark.implicits._
    // the returned plan reads the final labels: registering them (the
    // level is unchanged) leaves their release to Pins.release()
    Pins.persist(labels, MEMORY_AND_DISK).toDF("node", "label")
  }

  /** d07: near-dup clusters — LSH pairs → connected components →
    * keep the smallest doc_id per cluster, report cluster sizes. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
    connectedComponents(pairs, "a_id", "b_id")
      .groupBy(col("label").as("keep_id"))
      .agg((count(lit(1))).as("cluster_size"))
      .orderBy(col("keep_id"))
  }

  /** d20: the cleaned corpus itself — the dedup pipeline's actual
    * deliverable (d02 finds pairs, d07 shapes clusters; a training
    * run consumes the SURVIVORS). A doc survives iff it touches no
    * near-dup cluster (label null) or is its cluster's
    * representative (label == own id, the keep-lowest-id contract).
    * One left equi-join of the corpus against the (tiny) label
    * relation — the corpus itself never shuffles wide. `had_dups`
    * marks survivors that absorbed duplicates (provenance for
    * downstream weighting/repetition-aware sampling). */
  def d20DedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithPlants(spark, dir).select(col("doc_id"))
    // cluster on the star-reduced edge set, NOT the pairwise d02
    // relation: components are identical (d14's spec pins it) but the
    // edge count is O(cell size), not O(cell size²) — measured 196 s
    // → star path on the 100×-duplicated sf10 corpus, where pairwise
    // clustering is quadratic in duplication depth
    val labels = d14Labels(spark, dir)
      .withColumnRenamed("node", "doc_id")
    corpus.join(labels, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"),
        when(col("label").isNotNull, 1).otherwise(0).as("had_dups"))
      .orderBy(col("doc_id"))
  }

  lazy val dedupCorpusSql: String =
    s"""WITH pairs AS ($minhashLshSql),
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
       |corpus AS ($corpusSql)
       |SELECT c.doc_id,
       |  CASE WHEN comp.label IS NOT NULL THEN 1 ELSE 0 END AS had_dups
       |FROM corpus c LEFT JOIN comp ON c.doc_id = comp.node
       |WHERE comp.label IS NULL OR comp.label = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** d14: duplicate clusters at MASS-DUPLICATION scale — the
    * composition that survives when most of the corpus IS duplicates.
    * d02/d07 materialize every co-bucket pair: exact and
    * oracle-checkable, but O(s²) edges per bucket, quadratic in
    * duplication depth — on the 100×-replicated bench corpus the
    * pair relation runs to tens of millions of rows (measured 67 s at
    * sf10). Here each (band, bucket) cell emits only a STAR —
    * (min_member, member) — O(s) edges that preserve the cell's
    * connectivity; exact Jaccard still verifies every emitted edge
    * before clustering. Semantic caveat: connectivity that existed
    * only through a verification-failing star center is lost (needs a
    * band-hash collision between dissimilar docs — negligible by
    * construction); PipelineSpec pins cluster-for-cluster equality
    * with d07 on the oracle corpus. Output contract matches d07.
    * Production note: when duplication is mostly EXACT (replicated
    * crawls), compose with d01's exact-collapse first — one linear
    * shuffle absorbs the duplication depth before any LSH work, the
    * d15 shape on the embedding side. */
  /** Star-reduced component labels, memoized per (session, dir) —
    * the shared clustering backbone for d14's histogram, d20's
    * survivor selection and d21's pipeline (the label RDD is
    * persisted by connectedComponents, so each consumer pays a
    * narrow derivation, not a re-clustering). */
  def d14Labels(spark: SparkSession, dir: String): DataFrame =
    Pins.memo(spark, ("d14", dir)) {
      // signed feeds the banded relation (2 uses: roots + star join)
      // and the shingle re-attach (2 uses) — pin it so the shingle +
      // MinHash kernel pass over the corpus runs exactly once
      val signed = Pins.persist(withSignature(corpusWithPlants(spark, dir))
        .select(col("doc_id"), col("shingles"), col("sig")), MEMORY_AND_DISK)
      connectedComponents(starVerifiedEdges(signed), "a_id", "b_id")
    }

  def d14ClustersAtScale(spark: SparkSession, dir: String): DataFrame =
    d14Labels(spark, dir)
      .groupBy(col("label").as("keep_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("keep_id"))

  private def starVerifiedEdges(signed: DataFrame): DataFrame = {
    val bandedDocs = banded(signed)
    // one narrow aggregate per cell: its min doc_id (star center) and
    // size (cap + singleton skip) — the same shape as the d02 bound
    val roots = bandedDocs.groupBy(col("band"), col("bh"))
      .agg(min(col("doc_id")).as("root"),
        count(lit(1)).as("cell_n"))
      .filter(col("cell_n") >= 2 && col("cell_n") <= MaxBucketSize)
      .select(col("band"), col("bh"), col("root"))
      .hint("shuffle_hash")
    val starEdges = bandedDocs.join(roots, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
      .hint("shuffle_hash")
    val sh = signed.select(col("doc_id"), col("shingles"))
    starEdges
      .join(sh.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("shingles", "sa"), "a_id")
      .join(sh.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("shingles", "sb"), "b_id")
      .filter(graft.functions.MinHash.sortedJaccard(
        col("sa"), col("sb")) >= 0.5)
      .select(col("a_id"), col("b_id"))
  }

  /** Oracle: recursive min-label reachability over the same pair set
    * (the d02 oracle's pairs), feasible exactly because dup graphs
    * are small-diameter. Lazy: minhashLshSql initializes later in
    * this object. */
  lazy val dedupClustersSql: String =
    s"""WITH pairs AS ($minhashLshSql),
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
       |  SELECT node, MIN(label) AS label FROM reach GROUP BY node)
       |SELECT label AS keep_id, COUNT(*) AS cluster_size
       |FROM comp GROUP BY label ORDER BY keep_id""".stripMargin

  /** Brute-force ground truth for d02 — near-dup pairs by exact
    * Jaccard ≥ 0.5, via a shingle-join in DuckDB. LSH with 8 bands ×
    * 4 rows finds a Jaccard-0.9 pair with probability ≈1-2e-5, so the
    * oracle and the LSH result coincide on this corpus. */
  val minhashLshSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH corpus AS ($corpusSql),
       |sh AS (
       |  SELECT doc_id, unnest(${TextFunctions.shinglesSql(w)}) AS s
       |  FROM corpus),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = a_id
       |JOIN cnt cb ON cb.doc_id = b_id
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Ingest-time near-dup filter: match each incoming document
    * against a pre-built LSH index of the existing corpus — the
    * shape a crawl pipeline runs at the door (does this new page
    * near-duplicate anything we already hold?) instead of
    * re-clustering the whole corpus per batch. Candidates meet only
    * where a signature band collides (equi-join on (band, bh), the
    * d02 shape — the index side never re-shuffles per batch at
    * cluster scale: it is pre-bucketed once); exact Jaccard verifies
    * every candidate. STREAMING-COMPATIBLE: no sort inside, the
    * stream side only flows through kernels, an explode, a
    * dropDuplicates and stream-static joins — PipelineSpec runs it
    * under a MemoryStream. (Production note: swap dropDuplicates for
    * dropDuplicatesWithinWatermark so pair-dedup state ages out.) */
  def ingestNearDup(incoming: DataFrame, index: DataFrame): DataFrame = {
    val idx = withSignature(index)
      .select(col("doc_id"), col("shingles"), col("sig"))
    val idxBanded = banded(idx.select(col("doc_id"), col("sig")))
      .withColumnRenamed("doc_id", "match_id")
    val inSigned = withSignature(incoming)
      .select(col("doc_id").as("new_id"),
        col("shingles").as("new_sh"), col("sig"))
    val inBanded = banded(inSigned
        .select(col("new_id").as("doc_id"), col("sig")))
      .withColumnRenamed("doc_id", "new_id")
    val cand = inBanded.join(idxBanded, Seq("band", "bh"))
      .select(col("new_id"), col("match_id"))
      .dropDuplicates(Seq("new_id", "match_id"))
    cand
      .join(inSigned.select(col("new_id"), col("new_sh")), Seq("new_id"))
      .join(idx.select(col("doc_id").as("match_id"),
        col("shingles").as("match_sh")), Seq("match_id"))
      .withColumn("jaccard", round(graft.functions.MinHash
        .sortedJaccard(col("new_sh"), col("match_sh")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("new_id"), col("match_id"), col("jaccard"))
  }

  /** d17: the batch validation form — plants (doc_id >= 1e6) arrive
    * as the incoming batch, originals are the index; the exact
    * all-pairs SQL over the same split is the oracle. */
  def d17IngestNearDup(spark: SparkSession, dir: String): DataFrame = {
    val all = corpusWithPlants(spark, dir)
    ingestNearDup(
      all.filter(col("doc_id") >= 1000000L),
      all.filter(col("doc_id") < 1000000L))
      .orderBy(col("new_id"), col("match_id"))
  }

  val ingestNearDupSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH corpus AS ($corpusSql),
       |sh AS (
       |  SELECT doc_id, unnest(${TextFunctions.shinglesSql(w)}) AS s
       |  FROM corpus),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT y.doc_id AS new_id, x.doc_id AS match_id,
       |    COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s
       |  WHERE x.doc_id < 1000000 AND y.doc_id >= 1000000
       |  GROUP BY 1, 2)
       |SELECT new_id, match_id,
       |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = match_id
       |JOIN cnt cb ON cb.doc_id = new_id
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
       |ORDER BY new_id, match_id""".stripMargin
  }

  /** Word 3-gram shingle STRINGS, multiset form (one entry per
    * occurrence) — the Column-API mirror of ShingleKernel's word
    * windows, kept for the portable-hash simhash where the hash input
    * must be a value both engines can see (a zero-copy byte-range
    * XXH64 can't be replayed in SQL). */
  /** IMPORTANT: pass BOUND attributes (projected columns), not raw
    * expressions — `w` is referenced inside the per-element lambda,
    * and Catalyst does NOT common-subexpression-eliminate into
    * higher-order lambdas, so an inline `split(text)` would re-split
    * the document once per shingle (measured ~30× on d03). */
  def shingleStrings(t: Column, w: Column, n: Int): Column =
    when(length(t) === 0, array().cast("array<string>"))
      .when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array(t))

  /** Portable 64-bit hash: the top 16 hex chars of md5, split into
    * two 32-bit halves and recombined — bit-identical in Spark and
    * DuckDB (both emit lowercase md5 hex; the halves dodge unsigned-
    * 64-bit parsing). A keyed non-crypto hash (XXH64) is the faster
    * production choice; md5 here buys cross-engine replayability. */
  def md5Long(s: Column): Column = {
    val h = md5(s)
    shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
  }

  /** d03: 64-bit SimHash per document + hamming distance of the
    * planted pairs. Signature = sign of per-bit vote over shingle
    * hashes, via the one-pass codegen'd kernel (SimHashSig — the HOF
    * formulation of the vote is interpreted and walks the hash array
    * 64 times). Votes come from the MULTISET of shingle occurrences,
    * i.e. Charikar's frequency-weighted definition — a doc repeating
    * one shingle n times votes n times, unlike the set statistics
    * MinHash/Jaccard compute. Shingles hash via [[md5Long]] so the
    * DuckDB oracle can replay the signature bit-for-bit (hash-matched
    * since round 5; the XXH64 multiset variant remains as
    * [[simhashXxhCol]] — same kernel, faster hash, spec-verified). */
  /** Signature column over pre-projected (trimmed text, words)
    * attributes — see [[shingleStrings]] for why they must be bound.
    * Two explicit passes so each shingle is md5'd exactly once. */
  def simhashCol(t: Column, w: Column): Column = {
    val hexes = transform(shingleStrings(t, w, 3), s => md5(s))
    graft.functions.MinHash.simhash(
      transform(hexes, h =>
        shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))))
  }

  /** The zero-copy XXH64 formulation — the throughput choice when no
    * cross-engine replay is needed; PipelineSpec pins that both
    * variants agree on the planted-pair hamming CONTRACT (dup pairs
    * land far under the random-pair baseline). */
  def simhashXxhCol: Column =
    graft.functions.MinHash.simhash(
      graft.functions.MinHash.shingleHashesAll(trim(col("text")), 3))

  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val signed = corpusWithPlants(spark, dir)
      .withColumn("t", trim(col("text")))
      .withColumn("w", split(col("t"), " "))
      .withColumn("simhash", simhashCol(col("t"), col("w")))
      .select(col("doc_id"), col("simhash"))
    val orig = signed.filter(col("doc_id") < 1000000L)
      .withColumnRenamed("doc_id", "a_id")
      .withColumnRenamed("simhash", "sig_a")
    val plant = signed.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("a_id"),
        col("simhash").as("sig_b"))
    orig.join(plant, "a_id")
      .select(col("a_id"), col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .orderBy(col("a_id"))
  }

  /** DuckDB oracle for d03: the identical Charikar pipeline unrolled
    * in SQL — multiset shingles → md5-derived 64-bit hashes (two
    * 32-bit halves) → per-bit ±1 votes → sign → signature longs →
    * planted-pair hamming. Bit 63 is added as Long.MinValue so the
    * signed BIGINT bit pattern matches Spark's Long exactly. */
  /** The d03 signature CTE chain (corpus → shingles → md5 halves →
    * bit votes → signed 64-bit signature, blank docs re-attached at
    * signature 0) — shared verbatim by the d03 and d72 oracles. */
  private lazy val simhashSigCtes: String = {
    val w = TextFunctions.wordsSql
    def half(from: Int) =
      s"""CAST(list_sum(list_transform(generate_series(1, 8),
         |  p -> (CAST(strpos('0123456789abcdef',
         |          substring(h, p + ${from - 1}, 1)) AS BIGINT) - 1)
         |       * (CAST(1 AS BIGINT) << (4 * (8 - p))))) AS BIGINT)"""
        .stripMargin
    s"""corpus AS ($corpusSql),
       |sh AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(trim(text)) = 0 THEN []
       |    WHEN len($w) >= 3 THEN
       |      list_transform(generate_series(1, len($w) - 2),
       |        i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])
       |    ELSE [trim(text)] END) AS s
       |  FROM corpus),
       |hx AS (SELECT doc_id, md5(s) AS h FROM sh),
       |hl AS (SELECT doc_id, ${half(1)} AS hi, ${half(9)} AS lo FROM hx),
       |bits AS (
       |  SELECT doc_id, k.k AS k,
       |    CASE WHEN k.k < 32 THEN (lo >> k.k) & 1
       |         ELSE (hi >> (k.k - 32)) & 1 END AS b
       |  FROM hl CROSS JOIN
       |    (SELECT unnest(generate_series(0, 63)) AS k) k),
       |votes AS (
       |  SELECT doc_id, k, SUM(CASE WHEN b = 1 THEN 1 ELSE -1 END) AS v
       |  FROM bits GROUP BY 1, 2),
       |sigv AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 AND k < 63
       |        THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
       |      + CASE WHEN MAX(CASE WHEN k = 63 AND v > 0
       |          THEN 1 ELSE 0 END) = 1
       |        THEN -9223372036854775808 ELSE 0 END AS simhash
       |  FROM votes GROUP BY 1),
       |-- blank docs produce ZERO shingle rows (sh unnests []), so they
       |-- vanish from sigv — but Spark's kernel gives the empty multiset
       |-- signature 0 and keeps the doc. Re-attach them with signature 0
       |-- so both engines agree on corpora that contain empty documents.
       |sig AS (
       |  SELECT c.doc_id, COALESCE(s.simhash, 0) AS simhash
       |  FROM corpus c LEFT JOIN sigv s USING (doc_id))""".stripMargin
  }

  val simhashSql: String =
    s"""WITH $simhashSigCtes
       |SELECT a.doc_id AS a_id, a.simhash AS sig_a, b.simhash AS sig_b,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1000000
       |WHERE a.doc_id < 1000000
       |ORDER BY a_id""".stripMargin

  /** d72 block geometry: 4 disjoint 16-bit blocks of the 64-bit
    * signature. PIGEONHOLE GUARANTEE: any pair within hamming
    * [[SimHamMax]] = 3 has its ≤3 differing bits spread over ≤3
    * blocks, so at least one block matches EXACTLY — recall 1.0 at
    * the bound, by construction, not probabilistically. */
  val SimBlocks = 4
  val SimHamMax = 3

  /** d72: corpus-wide SimHash near-dup DISCOVERY via Manku-style
    * block keys (Manku/Jain/Sarma, WWW'07 — the published
    * web-scale simhash dedup construction; public). d03 computes
    * signatures and verifies the PLANTED pairs; d72 is the missing
    * discovery side: find every pair within hamming ≤ [[SimHamMax]]
    * without anything pairwise. Each signature posts [[SimBlocks]]
    * 16-bit block keys; candidates meet only on an exact (block,
    * key) match — by pigeonhole this finds EVERY qualifying pair
    * (recall 1.0 at the bound), and bit_count verifies each
    * candidate so precision is exact too. Candidate volume per
    * table is sum over 65536 buckets of n², i.e. ~N²/65536 on
    * hash-uniform signatures — the published trade; degenerate
    * buckets (near-identical corpora collapse keys) are dropped by
    * the [[MaxBucketSize]] cap, the same knob as every other
    * candidate generator, and at larger N the block width widens
    * (16 → 20+ bits over more tables) per the paper's table. */
  def d72SimhashBlocks(spark: SparkSession, dir: String): DataFrame = {
    // the signature relation feeds the block posting, the bucket cap,
    // and BOTH sides of the candidate self-join — without truncation
    // each consumer re-executes the per-word simhash fold (r16 plan
    // audit: 16 scans in the initial plan). One eager checkpoint of
    // the tiny (doc_id, sig) relation caps it at one pass (guide
    // §3.3); rows identical, oracle unchanged.
    val sig = Pins.checkpoint(corpusWithPlants(spark, dir)
      .withColumn("t", trim(col("text")))
      .withColumn("w", split(col("t"), " "))
      .select(col("doc_id"), simhashCol(col("t"), col("w")).as("sig")))
    val posted = sig.select(col("doc_id"), col("sig"),
        explode(array((0 until SimBlocks).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("sig"), 16 * b)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("p"))
      .select(col("doc_id"), col("sig"),
        col("p.blk").as("blk"), col("p.key").as("key"))
    val capped = posted.groupBy(col("blk"), col("key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= MaxBucketSize)
      .select(col("blk"), col("key"))
    val postedC = posted.join(capped.hint("shuffle_hash"),
      Seq("blk", "key"))
    postedC.as("a")
      .join(postedC.as("b").hint("merge"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= SimHamMax)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB oracle for d72: the shared d03 signature CTEs + block
    * posting, bucket cap, block-equi candidates, hamming verify. */
  lazy val d72Sql: String =
    s"""WITH $simhashSigCtes,
       |blocks AS (SELECT unnest(generate_series(0, ${SimBlocks - 1}))
       |  AS blk),
       |posted AS (
       |  SELECT s.doc_id, s.simhash, b.blk,
       |    (s.simhash >> (16 * b.blk)) & 65535 AS key
       |  FROM sig s CROSS JOIN blocks b),
       |capped AS (
       |  SELECT blk, key FROM posted GROUP BY 1, 2
       |  HAVING COUNT(*) <= $MaxBucketSize),
       |pc AS (SELECT p.* FROM posted p JOIN capped USING (blk, key))
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM pc a JOIN pc b ON a.blk = b.blk AND a.key = b.key
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHamMax
       |ORDER BY a_id, b_id""".stripMargin

  /** Prefix length for d24's edit-distance verify: Levenshtein is
    * O(len²) PER PAIR, so production fuzzy-dedup runs it on bounded
    * prefixes of already-filtered candidates, never on raw documents
    * (a 100 KB doc pair would be 10¹⁰ cell updates). 256 chars
    * separates boilerplate-shifted near-dups from strangers just as
    * well on this corpus and keeps the per-pair cost constant. */
  val EditPrefix = 256

  /** d24: edit-distance verification — the fuzzy-dedup last mile.
    * d02's banded LSH proposes candidates (cheap, set-statistic);
    * Levenshtein on bounded prefixes then scores them by actual
    * edit similarity 1 − dist/max(len) — the character-level measure
    * that catches reorder-free edits Jaccard shingles blur. Both
    * engines ship a native levenshtein, so the whole verify is
    * oracle-replayable; the candidate relation never widens (texts
    * re-attach by id AFTER the pair set exists — the d02 shape). */
  def d24EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithPlants(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, EditPrefix).as("p"))
    // the candidate pair relation is aggregate-derived (statless) and
    // scales with the corpus: unhinted, Catalyst broadcasts it — the
    // t11 failure class, and the global PlanShapeSpec gate flagged
    // exactly this line when d24 first landed. Shuffled build pinned.
    minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
      .hint("shuffle_hash")
      .join(corpus.select(col("doc_id").as("a_id"), col("p").as("pa")),
        Seq("a_id"))
      .join(corpus.select(col("doc_id").as("b_id"), col("p").as("pb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
        // the lit(1) floor defines edit_sim = 1.0 for two EMPTY
        // prefixes (identical blank docs are likely LSH candidates)
        // instead of 0/0 — NaN on Spark, engine-dependent in SQL
        round(lit(1.0) - levenshtein(col("pa"), col("pb")).cast("double")
          / greatest(length(col("pa")), length(col("pb")), lit(1))
            .cast("double"),
          6).as("edit_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  lazy val d24Sql: String =
    s"""WITH pairs AS ($minhashLshSql),
       |corpus AS (
       |  SELECT doc_id, substring(text, 1, $EditPrefix) AS p
       |  FROM ($corpusSql))
       |SELECT a_id, b_id,
       |  CAST(levenshtein(ca.p, cb.p) AS BIGINT) AS edit_dist,
       |  ROUND(1.0 - CAST(levenshtein(ca.p, cb.p) AS DOUBLE)
       |    / GREATEST(len(ca.p), len(cb.p), 1), 6) AS edit_sim
       |FROM pairs
       |JOIN corpus ca ON ca.doc_id = a_id
       |JOIN corpus cb ON cb.doc_id = b_id
       |ORDER BY a_id, b_id""".stripMargin

  /** d04: exact n-gram Jaccard on the planted pairs (the verify
    * kernel of every near-dup pipeline). Shingles hash zero-copy from
    * the document bytes (ShingleHashes) and Jaccard is the sorted
    * merge-walk kernel — the string-array
    * `array_intersect/array_union` HOF form was the slowest query of
    * the sf1 drill (16.5 s; this form ~1 s). Hashed-set Jaccard
    * equals string-set Jaccard absent an XXH64 collision within one
    * document pair (probability ~n²/2⁶⁴ — negligible), and the
    * DuckDB oracle stays on string shingles, so any collision would
    * surface as a hash mismatch. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithPlants(spark, dir).withColumn("sh",
      graft.functions.MinHash.shingleHashes(trim(col("text")), 3))
    val a = corpus.filter(col("doc_id") % 10 === 0 &&
        col("doc_id") < 1000000L)
      .select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = corpus.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("a_id"), col("sh").as("sb"))
    a.join(b, "a_id")
      .select(col("a_id"),
        round(graft.functions.MinHash.sortedJaccard(col("sa"), col("sb")),
          6).as("jaccard"))
      .orderBy(col("a_id"))
  }

  val ngramJaccardSql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH corpus AS ($corpusSql),
       |sh AS (
       |  SELECT doc_id, unnest(${TextFunctions.shinglesSql(w)}) AS s
       |  FROM corpus),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a_id, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s
       |    AND y.doc_id = x.doc_id + 1000000
       |  WHERE x.doc_id % 10 = 0 AND x.doc_id < 1000000
       |  GROUP BY 1)
       |SELECT a_id,
       |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = a_id
       |JOIN cnt cb ON cb.doc_id = a_id + 1000000
       |ORDER BY a_id""".stripMargin
  }

  /** d37: directional containment verify on the LSH candidates —
    * the ASYMMETRIC counterpart of d04's Jaccard: contain_ab =
    * |S(A)∩S(B)| / |S(A)|, contain_ba = |S(A)∩S(B)| / |S(B)|. A
    * near-1 containment with a visibly lower Jaccard is the
    * quote-inclusion / truncation signature (one document subsumed
    * in another) that symmetric resemblance blurs — the Broder
    * containment measure, and the reason production dedup keeps the
    * LONGER member of truncation pairs. On this corpus the planted
    * mutations (original minus last word) show exactly that
    * asymmetry: contain_ba = 1.0 while contain_ab < 1.
    *
    * Same plan contract as d24: the candidate relation comes from
    * d02's banded LSH (never all-pairs), stays narrow, and is
    * aggregate-derived/statless so its joins pin SHUFFLED builds;
    * shingle sets re-attach by id after the pair set exists. Hashed
    * sets stand in for string sets exactly as in d04 (equal counts
    * absent an XXH64 collision inside one pair — the oracle stays on
    * strings, so a collision would surface as a hash mismatch). The
    * lit(1) floor defines containment of an EMPTY shingle set as 0
    * on both engines instead of 0/0 (the d24 blank-doc guard). */
  def d37Containment(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithPlants(spark, dir).select(col("doc_id"),
      graft.functions.MinHash.shingleHashes(trim(col("text")), 3).as("sh"))
    val sets = corpus.select(col("doc_id"), col("sh"),
      size(col("sh")).cast("long").as("n"))
    val inter = graft.functions.MinHash
      .sortedIntersect(col("sa"), col("sb"))
    minhashLsh(spark, dir).select(col("a_id"), col("b_id"))
      .hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa"),
        col("n").as("na")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb"),
        col("n").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(inter.cast("double") /
          greatest(col("na"), lit(1L)).cast("double"), 6).as("contain_ab"),
        round(inter.cast("double") /
          greatest(col("nb"), lit(1L)).cast("double"), 6).as("contain_ba"))
      .orderBy(col("a_id"), col("b_id"))
  }

  lazy val d37Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH pairs AS ($minhashLshSql),
       |corpus AS ($corpusSql),
       |sh AS (
       |  SELECT doc_id, unnest(${TextFunctions.shinglesSql(w)}) AS s
       |  FROM corpus),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT pairs.a_id, pairs.b_id, COUNT(*) AS i
       |  FROM pairs
       |  JOIN sh x ON x.doc_id = pairs.a_id
       |  JOIN sh y ON y.doc_id = pairs.b_id AND y.s = x.s
       |  GROUP BY 1, 2)
       |-- LEFT joins + COALESCE keep pairs whose intersection is empty
       |-- and docs with ZERO shingles (blank text unnests to no rows —
       |-- the d03 blank-doc class), matching the kernel's 0-count rows
       |SELECT p.a_id, p.b_id,
       |  ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
       |    / GREATEST(COALESCE(ca.n, 0), 1), 6) AS contain_ab,
       |  ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
       |    / GREATEST(COALESCE(cb.n, 0), 1), 6) AS contain_ba
       |FROM pairs p
       |LEFT JOIN inter ON inter.a_id = p.a_id AND inter.b_id = p.b_id
       |LEFT JOIN cnt ca ON ca.doc_id = p.a_id
       |LEFT JOIN cnt cb ON cb.doc_id = p.b_id
       |ORDER BY p.a_id, p.b_id""".stripMargin
  }

  /** d40: dedup-impact report — the cluster-size histogram: how many
    * duplicate clusters exist at each size and how much document mass
    * they hold. THE summary a dedup operator reads before committing
    * a multi-PB delete ("are we removing 3% or 30%, and is it one
    * giant boilerplate cluster or many small mutation pairs?").
    * Composes d07's connected components; the histogram itself is a
    * |cluster-sizes|-row aggregate over the |clusters|-row output —
    * free at any scale. */
  def d40ClusterHistogram(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  lazy val d40Sql: String =
    s"""SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
       |FROM ($dedupClustersSql)
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Signature width for d39's calibration — deliberately NARROWER
    * than the production [[NumHashes]] so the estimator error being
    * measured is visible (at 16 slots the standard error
    * √(J(1−J)/16) ≈ 0.1 near J = 0.8). */
  val CalibK = 16

  /** d39: MinHash estimator calibration — measured estimator-vs-truth
    * error on the planted pairs: est = (matching signature slots)/k
    * against d04's exact shingle-set Jaccard. The report that tells a
    * 100 TB dedup operator whether their signature width and LSH
    * threshold are actually delivering the resemblance cutoff they
    * think they configured (E[est] = J is the Broder guarantee; the
    * VARIANCE is what bites at k = 32 and J near the 0.5 threshold).
    *
    * Replayability: the signature kernel is min(h XOR mixWord(k))
    * over the shingle-hash set — with md5-derived base hashes (the
    * d03 portable-family trick) every slot is one XOR + one signed-
    * BIGINT min, so the DuckDB oracle replays the SIGNATURES
    * themselves bit-for-bit, not just the estimate. Production keeps
    * XXH64 ([[withSignature]]); the kernel is the same either way.
    * Pair relation is the planted set (bounded, id-derived); the
    * per-pair slot compare is a 16-element zip on that narrow
    * relation. */
  /** The portable-signature planted-pair relation d39/d42 audit:
    * (a_id, ha, sa, hb, sb) — md5-hash shingle sets and replayable
    * 16-slot signatures for both members of each planted pair. */
  private def calibPairs(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithPlants(spark, dir)
      .filter(col("doc_id") % 10 === 0 || col("doc_id") >= 1000000L)
      .withColumn("t", trim(col("text")))
      .withColumn("w", split(col("t"), " "))
      .withColumn("hs", array_sort(array_distinct(
        transform(shingleStrings(col("t"), col("w"), 3), s => md5Long(s)))))
      .withColumn("sig", graft.functions.MinHash.minhash(col("hs"), CalibK))
      .select(col("doc_id"), col("hs"), col("sig"))
    val a = corpus.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("a_id"), col("hs").as("ha"),
        col("sig").as("sa"))
    val b = corpus.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("a_id"), col("hs").as("hb"),
        col("sig").as("sb"))
    a.join(b, "a_id")
  }

  def d39MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    calibPairs(spark, dir)
      .select(col("a_id"),
        round(aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / CalibK, 6)
          .as("est_jaccard"),
        round(graft.functions.MinHash.sortedJaccard(col("ha"), col("hb")),
          6).as("jaccard"))
      .withColumn("abs_err", round(abs(
        col("est_jaccard") - col("jaccard")), 6))
      .orderBy(col("a_id"))
  }

  /** 8-hex-char BIGINT parse at offset `from` (the d03 digit walk —
    * DuckDB has no hex strtol). */
  private def d39Half(from: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8),
       |  p -> (CAST(strpos('0123456789abcdef',
       |          substring(h, p + ${from - 1}, 1)) AS BIGINT) - 1)
       |       * (CAST(1 AS BIGINT) << (4 * (8 - p))))) AS BIGINT)"""
      .stripMargin

  /** d73 bin count (a power of two: the bin key is the hash's low
    * bits, identical two's-complement arithmetic in both engines). */
  val OphBins = 32

  /** d73: ONE-PERMUTATION MinHash (OPH — Li/Owen/Zhang NIPS'12,
    * public) estimator calibration. Classic k-perm minhash (d02/d39)
    * evaluates k permutations for EVERY shingle — k hash ops per
    * element; OPH hashes each shingle ONCE into [[OphBins]] bins and
    * keeps per-bin minima, so signature cost drops k-fold — the form
    * an at-scale sketch pipeline actually computes at ingest. The
    * estimator here is the unbiased no-densification form: empty
    * bins are SKIPPED and Jaccard is estimated over the bins
    * non-empty in BOTH docs (matched/aligned); densification
    * variants fill empty bins for fixed-width signatures, trading
    * bias for alignment-free compare — out of scope, documented.
    * Like d39, the report pairs the estimate with the exact
    * distinct-shingle Jaccard per planted pair so the error is
    * measured, not assumed. Per-bin min is duplicate-insensitive, so
    * the multiset/set distinction d39 documents does not arise for
    * the sketch (the exact side uses DISTINCT shingles). */
  def d73OphMinhash(spark: SparkSession, dir: String): DataFrame = {
    val base = corpusWithPlants(spark, dir)
      .filter(col("doc_id") % 10 === 0 || col("doc_id") >= 1000000L)
      .withColumn("t", trim(col("text")))
      .withColumn("w", split(col("t"), " "))
    val sh = base.select(col("doc_id"),
      explode(array_distinct(
        shingleStrings(col("t"), col("w"), 3))).as("s"))
    val binned = sh.select(col("doc_id"), md5Long(col("s")).as("hv"))
      .withColumn("bin",
        col("hv").bitwiseAND(lit((OphBins - 1).toLong)))
      .groupBy(col("doc_id"), col("bin"))
      .agg(min(col("hv")).as("mh"))
    val aligned = binned.filter(col("doc_id") < 1000000L).as("a")
      .join(binned.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"),
          col("bin"), col("mh").as("mh_b")).as("b")
        // both sides are corpus-scaling (docs × bins) aggregate
        // outputs with no stats: pin the shuffled build so Catalyst
        // can't guess-broadcast one (the t11/d16 bug class)
        .hint("shuffle_hash"),
        Seq("doc_id", "bin"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_aligned"),
        sum((col("mh") === col("mh_b")).cast("long")).as("n_matched"))
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.filter(col("doc_id") < 1000000L)
      .join(sh.filter(col("doc_id") >= 1000000L)
          .select((col("doc_id") - 1000000L).as("doc_id"), col("s")),
        Seq("doc_id", "s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("i"))
    aligned
      .join(inter.hint("shuffle_hash"), Seq("doc_id"))
      .join(cnt.hint("shuffle_hash"), Seq("doc_id"))
      .join(cnt.hint("shuffle_hash")
          .select((col("doc_id") - 1000000L).as("doc_id"),
            col("n").as("nb")),
        Seq("doc_id"))
      .select(col("doc_id").as("a_id"), col("n_aligned"),
        col("n_matched"),
        (round(col("n_matched").cast("double") / col("n_aligned"), 6)
          + lit(0.0)).as("est_jaccard"),
        (round(col("i").cast("double")
          / (col("n") + col("nb") - col("i")), 6) + lit(0.0))
          .as("jaccard"),
        (round(abs(
          round(col("n_matched").cast("double") / col("n_aligned"), 6)
          - round(col("i").cast("double")
            / (col("n") + col("nb") - col("i")), 6)), 6) + lit(0.0))
          .as("abs_err"))
      .orderBy(col("a_id"))
  }

  /** Borrow-distance disambiguator for d85's densified signature:
    * any odd constant > [[OphBins]] works — borrowed bins must only
    * match when the DONOR values match AND the borrow distances
    * match (Shrivastava–Li's m + t·C term); combining via XOR of the
    * small product t·C (t < 32, so the product stays tiny) instead
    * of 64-bit addition keeps the arithmetic overflow-free in BOTH
    * engines (DuckDB BIGINT overflow ERRORS where Spark wraps). */
  val OphDensC = 1000003L

  /** d85: DENSIFIED one-permutation MinHash — closes d73's documented
    * gap (r12 verdict item 7): the no-densification estimator SKIPS
    * empty bins, so short docs (few shingles → many empty bins)
    * estimate from very few aligned bins and the variance blows up.
    * Densification (Shrivastava & Li ICML'14 "Improved Densification
    * of One Permutation Hashing", public) fills each empty bin from
    * the nearest non-empty bin CLOCKWISE (circular right), the value
    * disambiguated by the borrow distance t, yielding a fixed-width
    * [[OphBins]]-bin signature whose match fraction is an unbiased
    * Jaccard estimate with k-permutation-like variance — and
    * alignment-free compares (every signature has all bins, the form
    * an at-scale sketch store actually keys).
    *
    * Report: planted pair → plain aligned-bin estimate (d73's),
    * densified estimate, exact distinct-shingle Jaccard, both
    * absolute errors — the calibration table that justifies the
    * densified form for short docs. Plan shape: the bin grid is
    * docs × [[OphBins]] rows (bounded fan-out), the donor election
    * is one per-(doc, bin) argmin over ≤ [[OphBins]] candidates —
    * nothing quadratic in the corpus, everything integer, oracle
    * replays bins → donors → signature → match counts exactly. */
  def d85OphDensified(spark: SparkSession, dir: String): DataFrame = {
    val base = corpusWithPlants(spark, dir)
      .filter(col("doc_id") % 10 === 0 || col("doc_id") >= 1000000L)
      .withColumn("t", trim(col("text")))
      .withColumn("w", split(col("t"), " "))
    // sh feeds the bin pass, the shingle counts, and both sides of
    // the exact-intersection join; binned feeds the grid, the
    // densified election, and both aligned-estimate sides — without
    // truncation each consumer re-executes the shingle explode + md5
    // chain (r16 plan audit: 40 scans / 38 exchanges in the initial
    // plan). Checkpoint each once (guide §3.3); oracle unchanged.
    val sh = Pins.checkpoint(base.select(col("doc_id"),
      explode(array_distinct(
        shingleStrings(col("t"), col("w"), 3))).as("s")))
    val binned = Pins.checkpoint(
      sh.select(col("doc_id"), md5Long(col("s")).as("hv"))
        .withColumn("bin",
          col("hv").bitwiseAND(lit((OphBins - 1).toLong)))
        .groupBy(col("doc_id"), col("bin"))
        .agg(min(col("hv")).as("mh")))
    // fixed-width densified signature: every bin filled; empty bins
    // borrow from the nearest non-empty bin clockwise, value XORed
    // with t·C (t = circular borrow distance, 0 for own bins)
    val grid = binned.select(col("doc_id")).distinct()
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(OphBins - 1L))).as("bin"))
    val dens = grid
      .join(binned.select(col("doc_id"), col("bin").as("nb"),
        col("mh")).hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("t", pmod(col("nb") - col("bin") + lit(OphBins.toLong),
        lit(OphBins.toLong)))
      .groupBy(col("doc_id"), col("bin"))
      .agg(min(struct(col("t"), col("mh"))).as("best"))
      .select(col("doc_id"), col("bin"),
        col("best.mh").bitwiseXOR(col("best.t") * lit(OphDensC))
          .as("dv"))
    val densEst = dens.filter(col("doc_id") < 1000000L).as("a")
      .join(dens.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"),
          col("bin"), col("dv").as("dv_b"))
        .hint("shuffle_hash"),
        Seq("doc_id", "bin"))
      .groupBy(col("doc_id"))
      .agg(sum((col("dv") === col("dv_b")).cast("long"))
        .as("n_dens_matched"))
    val aligned = binned.filter(col("doc_id") < 1000000L).as("a")
      .join(binned.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"),
          col("bin"), col("mh").as("mh_b"))
        .hint("shuffle_hash"),
        Seq("doc_id", "bin"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_aligned"),
        sum((col("mh") === col("mh_b")).cast("long")).as("n_matched"))
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.filter(col("doc_id") < 1000000L)
      .join(sh.filter(col("doc_id") >= 1000000L)
          .select((col("doc_id") - 1000000L).as("doc_id"), col("s")),
        Seq("doc_id", "s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("i"))
    val exact = (col("i").cast("double")
      / (col("n") + col("nb") - col("i")))
    val plain = col("n_matched").cast("double") / col("n_aligned")
    val densd = col("n_dens_matched").cast("double") / lit(OphBins)
    aligned
      .join(densEst.hint("shuffle_hash"), Seq("doc_id"))
      .join(inter.hint("shuffle_hash"), Seq("doc_id"))
      .join(cnt.hint("shuffle_hash"), Seq("doc_id"))
      .join(cnt.hint("shuffle_hash")
          .select((col("doc_id") - 1000000L).as("doc_id"),
            col("n").as("nb")),
        Seq("doc_id"))
      .select(col("doc_id").as("a_id"), col("n_aligned"),
        col("n_matched"), col("n_dens_matched"),
        (round(plain, 6) + lit(0.0)).as("est_plain"),
        (round(densd, 6) + lit(0.0)).as("est_densified"),
        (round(exact, 6) + lit(0.0)).as("jaccard"),
        (round(abs(round(plain, 6) - round(exact, 6)), 6) + lit(0.0))
          .as("err_plain"),
        (round(abs(round(densd, 6) - round(exact, 6)), 6) + lit(0.0))
          .as("err_densified"))
      .orderBy(col("a_id"))
  }

  /** DuckDB oracle for d85: d73's chain + the densified signature
    * (bin grid → clockwise donor election → xor-disambiguated value)
    * and both estimates next to the exact Jaccard. */
  lazy val d85Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM ($corpusSql)
       |  WHERE doc_id % 10 = 0 OR doc_id >= 1000000),
       |sh AS (
       |  SELECT DISTINCT doc_id, s
       |  FROM (SELECT doc_id, unnest(
       |    CASE WHEN len(trim(text)) = 0 THEN []
       |    WHEN len(${TextFunctions.wordsSql}) >= 3 THEN
       |      list_transform(generate_series(1,
       |          len(${TextFunctions.wordsSql}) - 2),
       |        i -> ${TextFunctions.wordsSql}[i] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+1] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+2])
       |    ELSE [trim(text)] END) AS s FROM corpus)),
       |hx AS (SELECT doc_id, md5(s) AS h FROM sh),
       |h2 AS (SELECT doc_id, ${d39Half(1)} AS hi, ${d39Half(9)} AS lo
       |       FROM hx),
       |hl AS (
       |  SELECT doc_id,
       |    (hi - CASE WHEN hi >= 2147483648
       |       THEN 4294967296 ELSE 0 END) * 4294967296 + lo AS hv
       |  FROM h2),
       |binned AS (
       |  SELECT doc_id, hv & ${OphBins - 1} AS bin, MIN(hv) AS mh
       |  FROM hl GROUP BY 1, 2),
       |grid AS (
       |  SELECT doc_id, unnest(generate_series(0, ${OphBins - 1}))
       |    AS bin
       |  FROM (SELECT DISTINCT doc_id FROM binned)),
       |dens AS (
       |  SELECT doc_id, bin, xor(mh, t * $OphDensC) AS dv FROM (
       |    SELECT g.doc_id, g.bin, b.mh,
       |      (b.bin - g.bin + $OphBins) % $OphBins AS t,
       |      ROW_NUMBER() OVER (PARTITION BY g.doc_id, g.bin
       |        ORDER BY (b.bin - g.bin + $OphBins) % $OphBins) AS rn
       |    FROM grid g JOIN binned b ON b.doc_id = g.doc_id)
       |  WHERE rn = 1),
       |de AS (
       |  SELECT a.doc_id AS a_id,
       |    CAST(SUM(CASE WHEN a.dv = b.dv THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_dens_matched
       |  FROM dens a JOIN dens b
       |    ON b.doc_id = a.doc_id + 1000000 AND b.bin = a.bin
       |  WHERE a.doc_id < 1000000 GROUP BY 1),
       |al AS (
       |  SELECT a.doc_id AS a_id, COUNT(*) AS n_aligned,
       |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_matched
       |  FROM binned a JOIN binned b
       |    ON b.doc_id = a.doc_id + 1000000 AND b.bin = a.bin
       |  WHERE a.doc_id < 1000000 GROUP BY 1),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a_id, COUNT(*) AS i
       |  FROM sh x JOIN sh y
       |    ON y.doc_id = x.doc_id + 1000000 AND y.s = x.s
       |  WHERE x.doc_id < 1000000 GROUP BY 1)
       |SELECT al.a_id, CAST(n_aligned AS BIGINT) AS n_aligned,
       |  n_matched, n_dens_matched,
       |  ROUND(CAST(n_matched AS DOUBLE) / n_aligned, 6) + 0.0
       |    AS est_plain,
       |  ROUND(CAST(n_dens_matched AS DOUBLE) / $OphBins, 6) + 0.0
       |    AS est_densified,
       |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) + 0.0
       |    AS jaccard,
       |  ROUND(ABS(ROUND(CAST(n_matched AS DOUBLE) / n_aligned, 6)
       |    - ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6)), 6)
       |    + 0.0 AS err_plain,
       |  ROUND(ABS(ROUND(CAST(n_dens_matched AS DOUBLE) / $OphBins, 6)
       |    - ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6)), 6)
       |    + 0.0 AS err_densified
       |FROM al
       |JOIN de ON de.a_id = al.a_id
       |JOIN inter ON inter.a_id = al.a_id
       |JOIN cnt ca ON ca.doc_id = al.a_id
       |JOIN cnt cb ON cb.doc_id = al.a_id + 1000000
       |ORDER BY al.a_id""".stripMargin

  /** DuckDB oracle for d73: the d39-style portable shingle-hash CTEs
    * + bin minima, aligned-bin estimate, exact distinct Jaccard. */
  lazy val d73Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM ($corpusSql)
       |  WHERE doc_id % 10 = 0 OR doc_id >= 1000000),
       |sh AS (
       |  SELECT DISTINCT doc_id, s
       |  FROM (SELECT doc_id, unnest(
       |    CASE WHEN len(trim(text)) = 0 THEN []
       |    WHEN len(${TextFunctions.wordsSql}) >= 3 THEN
       |      list_transform(generate_series(1,
       |          len(${TextFunctions.wordsSql}) - 2),
       |        i -> ${TextFunctions.wordsSql}[i] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+1] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+2])
       |    ELSE [trim(text)] END) AS s FROM corpus)),
       |hx AS (SELECT doc_id, md5(s) AS h FROM sh),
       |h2 AS (SELECT doc_id, ${d39Half(1)} AS hi, ${d39Half(9)} AS lo
       |       FROM hx),
       |hl AS (
       |  SELECT doc_id,
       |    (hi - CASE WHEN hi >= 2147483648
       |       THEN 4294967296 ELSE 0 END) * 4294967296 + lo AS hv
       |  FROM h2),
       |binned AS (
       |  SELECT doc_id, hv & ${OphBins - 1} AS bin, MIN(hv) AS mh
       |  FROM hl GROUP BY 1, 2),
       |al AS (
       |  SELECT a.doc_id AS a_id, COUNT(*) AS n_aligned,
       |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_matched
       |  FROM binned a JOIN binned b
       |    ON b.doc_id = a.doc_id + 1000000 AND b.bin = a.bin
       |  WHERE a.doc_id < 1000000 GROUP BY 1),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a_id, COUNT(*) AS i
       |  FROM sh x JOIN sh y
       |    ON y.doc_id = x.doc_id + 1000000 AND y.s = x.s
       |  WHERE x.doc_id < 1000000 GROUP BY 1)
       |SELECT al.a_id, CAST(n_aligned AS BIGINT) AS n_aligned,
       |  n_matched,
       |  ROUND(CAST(n_matched AS DOUBLE) / n_aligned, 6) + 0.0
       |    AS est_jaccard,
       |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) + 0.0
       |    AS jaccard,
       |  ROUND(ABS(ROUND(CAST(n_matched AS DOUBLE) / n_aligned, 6)
       |    - ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6)), 6)
       |    + 0.0 AS abs_err
       |FROM al
       |JOIN inter ON inter.a_id = al.a_id
       |JOIN cnt ca ON ca.doc_id = al.a_id
       |JOIN cnt cb ON cb.doc_id = al.a_id + 1000000
       |ORDER BY al.a_id""".stripMargin

  /** Shared CTE prefix for d39/d42: portable signatures (`sig`) and
    * exact planted-pair Jaccard (`tru`). */
  private lazy val calibCtes: String = {
    val mixes = graft.functions.MinHashKernel.mixWords(CalibK)
    val mixVals = mixes.zipWithIndex
      .map { case (m, k) => s"($k, CAST($m AS BIGINT))" }.mkString(", ")
    s"""corpus AS (
       |  SELECT doc_id, text FROM ($corpusSql)
       |  WHERE doc_id % 10 = 0 OR doc_id >= 1000000),
       |sh AS (
       |  SELECT DISTINCT doc_id, s
       |  FROM (SELECT doc_id, unnest(
       |    CASE WHEN len(trim(text)) = 0 THEN []
       |    WHEN len(${TextFunctions.wordsSql}) >= 3 THEN
       |      list_transform(generate_series(1,
       |          len(${TextFunctions.wordsSql}) - 2),
       |        i -> ${TextFunctions.wordsSql}[i] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+1] || ' ' ||
       |          ${TextFunctions.wordsSql}[i+2])
       |    ELSE [trim(text)] END) AS s FROM corpus)),
       |hx AS (SELECT doc_id, md5(s) AS h FROM sh),
       |h2 AS (SELECT doc_id, ${d39Half(1)} AS hi, ${d39Half(9)} AS lo
       |       FROM hx),
       |-- signed 64-bit reassembly of the two md5 halves: hi shifts
       |-- into the sign bit exactly as Spark's shiftleft wraps
       |hl AS (
       |  SELECT doc_id,
       |    (hi - CASE WHEN hi >= 2147483648
       |       THEN 4294967296 ELSE 0 END) * 4294967296 + lo AS hv
       |  FROM h2),
       |mx(k, c) AS (VALUES $mixVals),
       |sig AS (
       |  SELECT doc_id, mx.k, MIN(xor(hv, mx.c)) AS m
       |  FROM hl CROSS JOIN mx GROUP BY 1, 2),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a_id, COUNT(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s
       |    AND y.doc_id = x.doc_id + 1000000
       |  WHERE x.doc_id < 1000000
       |  GROUP BY 1),
       |tru AS (
       |  SELECT a_id,
       |    ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
       |  FROM inter
       |  JOIN cnt ca ON ca.doc_id = a_id
       |  JOIN cnt cb ON cb.doc_id = a_id + 1000000)""".stripMargin
  }

  lazy val d39Sql: String =
    s"""WITH $calibCtes,
       |est AS (
       |  SELECT a.doc_id AS a_id,
       |    SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS hits
       |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1000000
       |    AND b.k = a.k
       |  WHERE a.doc_id < 1000000
       |  GROUP BY 1)
       |SELECT est.a_id,
       |  ROUND(CAST(hits AS DOUBLE) / $CalibK, 6) AS est_jaccard,
       |  tru.jaccard,
       |  ROUND(ABS(ROUND(CAST(hits AS DOUBLE) / $CalibK, 6)
       |    - tru.jaccard), 6) AS abs_err
       |FROM est JOIN tru ON tru.a_id = est.a_id
       |ORDER BY est.a_id""".stripMargin

  /** LSH banding for the d42 audit: [[CalibK]] slots split into
    * bands of [[AuditRows]]. */
  val AuditBands = 4
  val AuditRows = CalibK / AuditBands

  /** The (bands, rows-per-band) grid d83 tunes over — every divisor
    * split of the [[CalibK]]-slot signature. */
  val TuneConfigs: Seq[(Int, Int)] =
    Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** d83: LSH BANDING TUNING TABLE — the decision every LSH dedup
    * deployment makes before running (d02 hard-codes (4, 4); this is
    * where that choice comes from): for each (b, r) split of the
    * signature budget, the S-curve's EXPECTED recall over this
    * corpus's own planted-pair Jaccard distribution — mean of
    * p = 1 − (1 − J^r)^b over the pairs' exact Jaccards — next to
    * the MEASURED candidacy rate (≥1 of the b bands matches in the
    * actual signatures), so the formula is checked against ground
    * truth at every config, not just d42's single one. More bands →
    * higher recall and more candidate volume; the table is how a
    * target recall picks its knob. Exactness discipline: powers
    * unroll to literal multiplication chains (identical IEEE op
    * sequence in both engines — `pow` is not cross-engine
    * bit-stable), each pair's p quantizes to the 10⁶ grid BEFORE the
    * sum (t15's rule: integer sums, one division at the end), and
    * the measured rate is a pure integer count. Pair relation is the
    * bounded planted set ([[calibPairs]]). */
  def d83LshTuning(spark: SparkSession, dir: String): DataFrame = {
    val pairs = calibPairs(spark, dir)
      .select(col("a_id"), col("sa"), col("sb"),
        round(graft.functions.MinHash.sortedJaccard(
          col("ha"), col("hb")), 6).as("j"))
    def pw(base: Column, n: Int): Column =
      (1 to n).map(_ => base).reduce(_ * _)
    TuneConfigs.map { case (b, r) =>
      val p = lit(1.0) - pw(lit(1.0) - pw(col("j"), r), b)
      val cand = (0 until b).map { i =>
        (0 until r).map(k =>
          col("sa").getItem(i * r + k) === col("sb").getItem(i * r + k))
          .reduce(_ && _)
      }.reduce(_ || _)
      pairs
        .select(round(p * 1e6, 0).cast("long").as("pq"),
          when(cand, 1L).otherwise(0L).as("cand"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("pq")).cast("long").as("sp"),
          sum(col("cand")).cast("long").as("sc"))
        .select(lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"), col("n_pairs"),
          (round(col("sp").cast("double") / col("n_pairs") / 1e6, 6)
            + lit(0.0)).as("expected_recall"),
          (round(col("sc").cast("double") / col("n_pairs"), 6)
            + lit(0.0)).as("measured_recall"))
    }.reduce(_ unionByName _).orderBy(col("bands").desc)
  }

  /** DuckDB oracle for d83: calibration signatures + exact Jaccards,
    * per-config band-match flags, the same unrolled-multiplication
    * S-curve on the 10⁶ grid. */
  lazy val d83Sql: String = {
    def pwSql(base: String, n: Int): String =
      Seq.fill(n)(s"($base)").mkString(" * ")
    val pcs = TuneConfigs.map { case (b, r) =>
      s"""pc_${b}_$r AS (
         |  SELECT tru.a_id, tru.jaccard AS j, bb.cand
         |  FROM tru JOIN (
         |    SELECT a_id, MAX(bm) AS cand FROM (
         |      SELECT a.doc_id AS a_id, a.k // $r AS band,
         |        MIN(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS bm
         |      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1000000
         |        AND b.k = a.k
         |      WHERE a.doc_id < 1000000
         |      GROUP BY 1, 2) bandm GROUP BY a_id) bb
         |    ON bb.a_id = tru.a_id)""".stripMargin
    }.mkString(",\n")
    val cfgs = TuneConfigs.map { case (b, r) =>
      val p = s"1.0 - ${pwSql(s"1.0 - ${pwSql("j", r)}", b)}"
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(CAST(SUM(CAST(ROUND(($p) * 1000000, 0)
         |      AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / COUNT(*) / 1000000, 6) + 0.0 AS expected_recall,
         |  ROUND(CAST(CAST(SUM(cand) AS BIGINT) AS DOUBLE)
         |    / COUNT(*), 6) + 0.0 AS measured_recall
         |FROM pc_${b}_$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $calibCtes,\n$pcs\n$cfgs\nORDER BY bands DESC"
  }

  /** d42: LSH recall audit — for every planted near-dup pair, does
    * banded LSH actually PROPOSE it? Reports shared-band count,
    * candidacy, and the pair's exact Jaccard, so the S-curve the
    * banding math promises (P[candidate] = 1−(1−J^r)^b) is checked
    * against ground truth on this corpus — the "is my dedup silently
    * missing near-dups" question answered with data instead of the
    * formula. Runs on the portable signatures ([[calibPairs]]) so the
    * oracle replays banding end to end; the pair relation is the
    * bounded planted set, and band comparison is slice equality on
    * 16-slot arrays — no bucket join needed when auditing KNOWN
    * pairs (production candidacy is d02's bucket join; same bands,
    * same math). */
  def d42LshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val bandEq = (b: Int) =>
      when(slice(col("sa"), b * AuditRows + 1, AuditRows) ===
        slice(col("sb"), b * AuditRows + 1, AuditRows), 1L).otherwise(0L)
    calibPairs(spark, dir)
      .select(col("a_id"),
        (0 until AuditBands).map(bandEq).reduce(_ + _)
          .as("n_shared_bands"),
        round(graft.functions.MinHash.sortedJaccard(col("ha"), col("hb")),
          6).as("jaccard"))
      .select(col("a_id"), col("n_shared_bands"),
        when(col("n_shared_bands") >= 1, 1L).otherwise(0L)
          .as("is_candidate"),
        col("jaccard"))
      .orderBy(col("a_id"))
  }

  lazy val d42Sql: String =
    s"""WITH $calibCtes,
       |bandcmp AS (
       |  SELECT a.doc_id AS a_id, a.k // $AuditRows AS band,
       |    CASE WHEN SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
       |      = $AuditRows THEN 1 ELSE 0 END AS sh
       |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1000000
       |    AND b.k = a.k
       |  WHERE a.doc_id < 1000000
       |  GROUP BY 1, 2),
       |sb AS (
       |  SELECT a_id, CAST(SUM(sh) AS BIGINT) AS n_shared_bands
       |  FROM bandcmp GROUP BY 1)
       |SELECT sb.a_id, n_shared_bands,
       |  CAST(CASE WHEN n_shared_bands >= 1 THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_candidate,
       |  tru.jaccard
       |FROM sb JOIN tru ON tru.a_id = sb.a_id
       |ORDER BY sb.a_id""".stripMargin

  /** d46: QUALITY-AWARE survivor election — d20 keeps the min-id
    * member of each near-dup cluster; a real curation pipeline keeps
    * the BEST one (the full doc over its truncation, the clean copy
    * over the mojibake one). Per cluster: argmax on t02's quality
    * score (micros-quantized so the comparison is integer-exact),
    * min doc_id tiebreak — ONE partial-aggregable struct-max over
    * the cluster-member relation, no window, nothing corpus-sized
    * beyond the d14 label backbone it composes. */
  def d46QualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    val labels = d14Labels(spark, dir)
      .withColumnRenamed("node", "doc_id")
    val quality = corpusWithPlants(spark, dir)
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("n_chars", length(trim(col("text"))).cast("long"))
      .withColumn("alpha_ratio", round(
        length(regexp_replace(trim(col("text")), "[^a-z]", ""))
          .cast("double") / col("n_chars"), 6))
      .withColumn("avg_word_len", round(
        col("st.len_sum").cast("double") / col("st.n_words"), 6))
      .withColumn("qmic", round(
        (least(col("st.n_words").cast("double") / 100.0, lit(1.0)) * 0.5
          + col("alpha_ratio") * 0.3
          + when(col("avg_word_len").between(3.0, 8.0), 0.2)
            .otherwise(0.0)) * 1e6, 0).cast("long"))
      .select(col("doc_id"), col("qmic"))
    labels.join(quality, Seq("doc_id"))
      .groupBy(col("label"))
      .agg(max(struct(col("qmic"), (-col("doc_id")).as("negdoc")))
        .as("best"), count(lit(1)).as("n_members"))
      .select(col("label").as("cluster"),
        (-col("best.negdoc")).as("kept_doc"),
        col("best.qmic").as("kept_quality_micros"), col("n_members"))
      .orderBy(col("cluster"))
  }

  lazy val d46Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH pairs AS ($minhashLshSql),
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
       |corpus AS ($corpusSql),
       |q AS (
       |  SELECT doc_id,
       |    CAST(ROUND((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + alpha_ratio * 0.3
       |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0
       |          THEN 0.2 ELSE 0.0 END) * 1000000) AS BIGINT) AS qmic
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len($w) AS BIGINT) AS n_words,
       |      ROUND(CAST(length(regexp_replace(trim(text), '[^a-z]',
       |        '', 'g')) AS DOUBLE) / length(trim(text)), 6)
       |        AS alpha_ratio,
       |      ROUND(CAST(list_sum(list_transform($w, x -> length(x)))
       |        AS DOUBLE) / len($w), 6) AS avg_word_len
       |    FROM corpus)),
       |r AS (
       |  SELECT comp.label, q.doc_id, q.qmic,
       |    ROW_NUMBER() OVER (PARTITION BY comp.label
       |      ORDER BY q.qmic DESC, q.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY comp.label) AS n_members
       |  FROM comp JOIN q ON q.doc_id = comp.node)
       |SELECT label AS cluster, doc_id AS kept_doc,
       |  qmic AS kept_quality_micros,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin
  }

  /** d54: INCREMENTAL dedup — the shape every recurring ingest needs
    * at 100 TB: never re-dedup the corpus; hash-join only the new
    * batch (every 10th doc here, a deterministic stand-in for "this
    * week's crawl") against the base corpus's fingerprint relation.
    * Each delta doc is classified `dup_of_base` (carrying the keeper
    * it collides with), `dup_in_delta` (a smaller id in the same
    * batch owns the hash), or `new`. Base work is one narrow
    * (hash → min-id) aggregate — the relation a production run keeps
    * materialized between loads; delta work is one key-partitioned
    * window + one left hash join, both O(batch), not O(corpus). */
  def d54IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"))
    val baseH = docs.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("h")).agg(min(col("doc_id")).as("base_doc"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs.filter(col("doc_id") % 10 === 0)
      .withColumn("rn", row_number().over(w))
      .join(baseH.hint("shuffle_hash"), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("base_doc").isNotNull, "dup_of_base")
          .when(col("rn") > 1, "dup_in_delta")
          .otherwise("new").as("status"),
        col("base_doc"))
      .orderBy(col("doc_id"))
  }

  /** d56: d54's incremental dedup against a PERSISTED fingerprint
    * index — the claim in d54's contract ("the relation a production
    * run keeps materialized between loads") made real: the base
    * corpus's (fingerprint → keeper) relation lands on disk through
    * the atomic manifest commit (a torn write is invisible to the
    * reader), and the delta probes the COMMITTED files — the daily
    * job never touches base documents again. Classification is
    * bit-identical to d54, so the oracle is d54's; what this entry
    * adds is the index lifecycle, which Relational6Spec exercises
    * (manifest present, orphan part files ignored, re-read equals
    * rebuild). */
  def d56PersistedIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"))
    val idx = committedFingerprintIndex(spark, dir)
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs.filter(col("doc_id") % 10 === 0)
      .withColumn("rn", row_number().over(w))
      .join(idx.hint("shuffle_hash"), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("base_doc").isNotNull, "dup_of_base")
          .when(col("rn") > 1, "dup_in_delta")
          .otherwise("new").as("status"),
        col("base_doc"))
      .orderBy(col("doc_id"))
  }

  /** d56's (h → base_doc) fingerprint index over the base corpus,
    * committed as an [[graft.sources.AtomicCommit.Artifact]] keyed on
    * `documents` (ADVICE r9: path identity alone let a regenerated
    * corpus at the same path serve stale base_doc mappings — the stamp
    * records WHAT corpus the index was built from, not just where). */
  lazy val FingerprintIndex: graft.sources.AtomicCommit.Artifact =
    graft.sources.AtomicCommit.Artifact("graft_fpindex", "documents") {
      (spark, dir, tmp) =>
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .filter(col("doc_id") % 10 =!= 0)
          .groupBy(col("h")).agg(min(col("doc_id")).as("base_doc"))
          .write.parquet(tmp)
    }

  /** Ensure-and-read the committed fingerprint index — d56's
    * lifecycle as a reusable leg (s20 probes the same index on a
    * stream): while the index stands, base documents are never
    * rescanned (the production daily-job lifecycle). */
  def committedFingerprintIndex(spark: SparkSession, dir: String)
      : DataFrame =
    graft.sources.AtomicCommit.readParquetCommitted(spark,
      FingerprintIndex.ensure(spark, dir))

  /** d58: quality-decile duplication calibration — the report that
    * answers "does my quality score PREDICT duplication?" before
    * anyone wires quality-weighted dedup (d46) into production: docs
    * bucket into quality deciles and each decile reports its
    * exact-duplicate rate. Decile CUTS come from the value-histogram
    * prefix sums (the q71/q74 machinery on the ≤1e6+1-value quality
    * grid), computed with the d23 bin-parallel two-level prefix sum
    * (r14: no single-partition window anywhere); the 9 cut values
    * reduce to ONE row INSIDE the returned plan and broadcast onto
    * the corpus via a 1-row cross join, so the whole computation —
    * including the bounded cum window — is visible to the
    * plan-shape gates and to bench timing (ADVICE r8: the previous
    * eager `.head()` ran a hidden side-job per invocation). Bucket
    * assignment is a stateless comparison chain against the nine
    * broadcast columns — no per-row join against a cut table. Same
    * qmic formula as d46, replayed by the oracle digit-for-digit. */
  def d58QualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .withColumn("st", TextFunctions.wordStats(col("text")))
      .withColumn("n_chars", length(trim(col("text"))).cast("long"))
      .withColumn("alpha_ratio", round(
        length(regexp_replace(trim(col("text")), "[^a-z]", ""))
          .cast("double") / col("n_chars"), 6))
      .withColumn("avg_word_len", round(
        col("st.len_sum").cast("double") / col("st.n_words"), 6))
      .withColumn("qmic", round(
        (least(col("st.n_words").cast("double") / 100.0, lit(1.0)) * 0.5
          + col("alpha_ratio") * 0.3
          + when(col("avg_word_len").between(3.0, 8.0), 0.2)
            .otherwise(0.0)) * 1e6, 0).cast("long"))
      .select(col("doc_id"), col("qmic"),
        md5(col("text").cast("binary")).as("h"))
    // r14 (verdict item 8): the cum window over the qmic histogram
    // was the suite's last DOMAIN-bounded (≤1e6+1 row)
    // single-partition window — retired with the d23 two-level
    // distributed prefix sum. Bins come from the LITERAL qmic grid
    // bound (qmic = round(score·1e6), score ∈ [0,1] by construction
    // — no collected scalar needed); the per-bin offsets come from a
    // triangular self-join over the |bins|-row totals (no top-level
    // window at all — d58 leaves the window-gate allowlist); the
    // corpus-scaling cum runs in windows PARTITIONED by bin. The
    // grand total rides the 1-row t12 scalar pattern. Semantics are
    // identical to the naive global cumsum the oracle replays.
    // FIXED literal bin count (the d62 convention), NOT the runtime
    // shuffle-partitions conf: the result is invariant for any
    // positive bin count, but the triangular offsets self-join is
    // O(bins²) rows, so a deployment-tuned conf (10k+ partitions)
    // must not silently inflate a ≤1e6-row computation
    val bins = 256
    val binOf = least(lit(bins - 1),
      (col("qmic") * bins / lit(1000001L)).cast("int"))
    val hist = q.groupBy(col("qmic")).agg(count(lit(1)).as("c"))
      .withColumn("bin", binOf)
    val binTotals = hist.groupBy(col("bin")).agg(sum(col("c")).as("bc"))
    val offsets = binTotals.as("a")
      .join(binTotals.as("b"), col("b.bin") < col("a.bin"), "left")
      .select(col("a.bin").as("bin"), col("b.bc").as("prev_bc"))
      .groupBy(col("bin"))
      .agg(coalesce(sum(col("prev_bc")), lit(0L)).as("offset"))
    val tot = binTotals.agg(sum(col("bc")).as("n"))
    val wRow = Window.partitionBy(col("bin")).orderBy(col("qmic"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.join(broadcast(offsets), Seq("bin"))
      .withColumn("cum", col("offset") + sum(col("c")).over(wRow))
      .crossJoin(broadcast(tot))
    val cutCols = (1 to 9).map(i => expr(
      s"min(CASE WHEN cum >= (n * $i) div 10 THEN qmic END)")
      .as(s"c$i"))
    val cutRel = cum.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
      acc + (col("qmic") > col(s"c$i")).cast("int")
    }
    val copies = q.groupBy(col("h")).agg(count(lit(1)).as("nc"))
    q.join(copies.hint("shuffle_hash"), Seq("h"))
      .crossJoin(broadcast(cutRel))
      .withColumn("decile", decile.cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("nc") > 1).cast("long")).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs"), 6)
          + lit(0.0))
      .orderBy(col("decile"))
  }

  lazy val d58Sql: String = {
    val w = TextFunctions.wordsSql
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE length(trim(text)) > 0),
       |q AS (
       |  SELECT doc_id, md5(text) AS h,
       |    CAST(ROUND((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + alpha_ratio * 0.3
       |      + CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0
       |          THEN 0.2 ELSE 0.0 END) * 1000000) AS BIGINT) AS qmic
       |  FROM (
       |    SELECT doc_id, text,
       |      CAST(len($w) AS BIGINT) AS n_words,
       |      ROUND(CAST(length(regexp_replace(trim(text), '[^a-z]',
       |        '', 'g')) AS DOUBLE) / length(trim(text)), 6)
       |        AS alpha_ratio,
       |      ROUND(CAST(list_sum(list_transform($w, x -> length(x)))
       |        AS DOUBLE) / len($w), 6) AS avg_word_len
       |    FROM corpus)),
       |hist AS (SELECT qmic, COUNT(*) AS c FROM q GROUP BY 1),
       |cum AS (
       |  SELECT qmic,
       |    SUM(c) OVER (ORDER BY qmic
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER () AS n
       |  FROM hist),
       |cuts AS (
       |  SELECT i.i,
       |    MIN(CASE WHEN cum >= (n * i.i) // 10 THEN qmic END) AS cut
       |  FROM cum CROSS JOIN
       |    (SELECT unnest(generate_series(1, 9)) AS i) i
       |  GROUP BY i.i),
       |copies AS (SELECT h, COUNT(*) AS nc FROM q GROUP BY 1),
       |cc AS (
       |  SELECT q.doc_id, q.h,
       |    1 + (SELECT COUNT(*) FROM cuts WHERE cut < q.qmic)
       |      AS decile
       |  FROM q)
       |SELECT CAST(cc.decile AS BIGINT) AS decile,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup,
       |  ROUND(CAST(SUM(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) + 0.0 AS dup_rate
       |FROM cc JOIN copies ON copies.h = cc.h
       |GROUP BY cc.decile ORDER BY decile""".stripMargin
  }

  val d54Sql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(text) AS h FROM documents),
      |base AS (
      |  SELECT h, MIN(doc_id) AS base_doc FROM d
      |  WHERE doc_id % 10 <> 0 GROUP BY 1),
      |delta AS (
      |  SELECT doc_id, h,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |  FROM d WHERE doc_id % 10 = 0)
      |SELECT delta.doc_id,
      |  CASE WHEN b.base_doc IS NOT NULL THEN 'dup_of_base'
      |       WHEN rn > 1 THEN 'dup_in_delta'
      |       ELSE 'new' END AS status,
      |  b.base_doc
      |FROM delta LEFT JOIN base b ON b.h = delta.h
      |ORDER BY delta.doc_id""".stripMargin

  /** d65: per-source dedup SURVIVORSHIP report — after near-dup
    * keeper election (d20), which sources lose how much: docs in,
    * survivors out, survival rate. This matters because dedup is a
    * silent MIXTURE SHIFT: if one source loses 40% of its docs to
    * duplication and another 2%, the post-dedup corpus no longer
    * matches mixture weights computed pre-dedup (d18/d38) — this
    * report is the correction input, and the per-source bias
    * dashboard a curation run logs. Plants carry their parent's
    * source (orig id = doc_id mod the plant offset); one extra
    * orig-key join + one group over d20's survivor relation. */
  def d65DedupSurvivorship(spark: SparkSession, dir: String)
      : DataFrame = {
    val src = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("orig_id"), col("source"))
    val corpus = corpusWithPlants(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 1000000L).as("orig_id"))
    val survivors = d20DedupCorpus(spark, dir)
      .select(col("doc_id"), lit(1).as("kept"))
    corpus.join(src.hint("shuffle_hash"), Seq("orig_id"))
      .join(survivors.hint("shuffle_hash"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("kept"), lit(0))).cast("long")
          .as("n_survivors"))
      .withColumn("survival_rate",
        round(col("n_survivors").cast("double") / col("n_docs"), 6)
          + lit(0.0))
      .orderBy(col("source"))
  }

  lazy val d65Sql: String =
    s"""WITH pairs AS ($minhashLshSql),
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
       |corpus AS ($corpusSql),
       |surv AS (
       |  SELECT c.doc_id
       |  FROM corpus c LEFT JOIN comp ON c.doc_id = comp.node
       |  WHERE comp.label IS NULL OR comp.label = c.doc_id),
       |m AS (
       |  SELECT d.source,
       |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
       |  FROM corpus c
       |  JOIN documents d ON d.doc_id = c.doc_id % 1000000
       |  LEFT JOIN surv s ON s.doc_id = c.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_survivors,
       |  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) + 0.0
       |    AS survival_rate
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** d60 sort key length and neighborhood window. */
  val SnmKeyLen = 32
  val SnmWindow = 2
  val SnmMaxEdit = 2L

  /** d60: SORTED-NEIGHBORHOOD near-dup candidates (Hernández–Stolfo
    * SNM, public record-linkage algorithm) — the OTHER classic
    * blocking family next to LSH (d02) and chunk hashing (m05): sort
    * the corpus by a normalized key and compare each record only with
    * its [[SnmWindow]] successors. Near-identical records (the
    * planted last-word-drop dups share their whole prefix) land
    * adjacent and verify by key edit distance ≤ [[SnmMaxEdit]].
    *
    * Scale shape: the sort partitions by a bounded BLOCK (first 2 key
    * chars — the SNM blocking pass) and orders within; positions come
    * from lead() offsets, so the whole pass is one hash shuffle on
    * the block key + per-block windows — nothing pairwise beyond the
    * w successors. Contract (the q16 discipline): a block must fit a
    * task; at 100 TB deepen the block prefix (or range-partition on
    * the full key with boundary-overlap passes — the standard SNM
    * multi-pass answer, which also recovers the cross-block pairs a
    * single pass misses by design). */
  def d60SortedNeighborhood(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = corpusWithPlants(spark, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
          1, SnmKeyLen).as("k"))
      .filter(length(col("k")) > 0)
      .withColumn("blk", substring(col("k"), 1, 2))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("k"), col("doc_id"))
    val withNext = (1 to SnmWindow).foldLeft(keyed) { (df, i) =>
      df.withColumn(s"k$i", lead(col("k"), i).over(w))
        .withColumn(s"id$i", lead(col("doc_id"), i).over(w))
    }
    (1 to SnmWindow).map { i =>
      withNext
        .filter(col(s"id$i").isNotNull)
        .select(least(col("doc_id"), col(s"id$i")).as("a_id"),
          greatest(col("doc_id"), col(s"id$i")).as("b_id"),
          levenshtein(col("k"), col(s"k$i")).cast("long")
            .as("edit_dist"))
        .filter(col("edit_dist") <= SnmMaxEdit)
    }.reduce(_ unionByName _)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  lazy val d60Sql: String = {
    val pair = (i: Int) =>
      s"""SELECT LEAST(doc_id, id$i) AS a_id,
         |  GREATEST(doc_id, id$i) AS b_id,
         |  CAST(levenshtein(k, k$i) AS BIGINT) AS edit_dist
         |FROM nbr WHERE id$i IS NOT NULL
         |  AND levenshtein(k, k$i) <= $SnmMaxEdit""".stripMargin
    s"""WITH corpus AS ($corpusSql),
       |keyed AS (
       |  SELECT doc_id,
       |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
       |      1, $SnmKeyLen) AS k
       |  FROM corpus
       |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '',
       |    'g')) > 0),
       |nbr AS (
       |  SELECT doc_id, k,
       |    LEAD(k, 1) OVER w AS k1, LEAD(doc_id, 1) OVER w AS id1,
       |    LEAD(k, 2) OVER w AS k2, LEAD(doc_id, 2) OVER w AS id2
       |  FROM keyed
       |  WINDOW w AS (PARTITION BY substring(k, 1, 2)
       |    ORDER BY k, doc_id))
       |SELECT DISTINCT a_id, b_id, edit_dist
       |FROM (${pair(1)} UNION ALL ${pair(2)})
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** d71 acceptance threshold on Jaro–Winkler similarity. */
  val JwMin = 0.90

  /** d71: SNM-blocked JARO–WINKLER record linkage — the OTHER classic
    * string-similarity verifier next to edit distance (d24/d60):
    * Jaro–Winkler weighs matching characters and transpositions
    * with a common-prefix boost, the standard measure for short keys
    * (names, titles, normalized headers) where Levenshtein's unit
    * costs mis-rank. Candidates come from exactly d60's sorted
    * neighborhood (one hash shuffle on the 2-char block + per-block
    * lead() windows — nothing pairwise beyond the window); each
    * candidate pair verifies with the codegen'd [[
    * graft.functions.TextCodec.jaroWinkler]] kernel, whose semantics
    * are pinned byte-exact to DuckDB's `jaro_winkler_similarity` for
    * ASCII (the normalized keys are [a-z0-9]) — so the oracle replays
    * blocking AND verification verbatim. */
  def d71JaroWinkler(spark: SparkSession, dir: String): DataFrame = {
    val keyed = corpusWithPlants(spark, dir)
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
          1, SnmKeyLen).as("k"))
      .filter(length(col("k")) > 0)
      .withColumn("blk", substring(col("k"), 1, 2))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("k"), col("doc_id"))
    val withNext = (1 to SnmWindow).foldLeft(keyed) { (df, i) =>
      df.withColumn(s"k$i", lead(col("k"), i).over(w))
        .withColumn(s"id$i", lead(col("doc_id"), i).over(w))
    }
    (1 to SnmWindow).map { i =>
      withNext
        .filter(col(s"id$i").isNotNull)
        .select(least(col("doc_id"), col(s"id$i")).as("a_id"),
          greatest(col("doc_id"), col(s"id$i")).as("b_id"),
          (round(TextFunctions.jaroWinkler(col("k"), col(s"k$i")), 6)
            + lit(0.0)).as("jw"))
        .filter(col("jw") >= JwMin)
    }.reduce(_ unionByName _)
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }

  lazy val d71Sql: String = {
    val pair = (i: Int) =>
      s"""SELECT LEAST(doc_id, id$i) AS a_id,
         |  GREATEST(doc_id, id$i) AS b_id,
         |  ROUND(jaro_winkler_similarity(k, k$i), 6) + 0.0 AS jw
         |FROM nbr WHERE id$i IS NOT NULL
         |  AND ROUND(jaro_winkler_similarity(k, k$i), 6) >= $JwMin"""
        .stripMargin
    s"""WITH corpus AS ($corpusSql),
       |keyed AS (
       |  SELECT doc_id,
       |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
       |      1, $SnmKeyLen) AS k
       |  FROM corpus
       |  WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '',
       |    'g')) > 0),
       |nbr AS (
       |  SELECT doc_id, k,
       |    LEAD(k, 1) OVER w AS k1, LEAD(doc_id, 1) OVER w AS id1,
       |    LEAD(k, 2) OVER w AS k2, LEAD(doc_id, 2) OVER w AS id2
       |  FROM keyed
       |  WINDOW w AS (PARTITION BY substring(k, 1, 2)
       |    ORDER BY k, doc_id))
       |SELECT DISTINCT a_id, b_id, jw
       |FROM (${pair(1)} UNION ALL ${pair(2)})
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- d68: content-defined chunking / exact-substring dedup --------

  /** Words per boundary-hash window (the CDC rolling window). */
  val ChunkShingle = 3
  /** Boundary modulus: a position closes its chunk when its 3-word
    * shingle's hash ≡ 0 (mod 8) — expected chunk length 8 words. */
  val ChunkMod = 8
  /** Chunks shorter than this don't report (trivial repeats). */
  val MinChunkWords = 4

  /** d68: CONTENT-DEFINED CHUNKING over words + the repeated-chunk
    * report — the building block of exact-substring dedup (the Lee et
    * al. "Deduplicating Training Data Makes Language Models Better"
    * treatment, public; suffix arrays find arbitrary repeats, CDC
    * finds them at boundary-aligned granularity for a single
    * hash-groupBy). Boundaries come from the CONTENT (a word position
    * closes its chunk when its [[ChunkShingle]]-word shingle hash ≡ 0
    * mod [[ChunkMod]]), so a shared passage chunks identically in
    * every document that contains it REGARDLESS of offset — the
    * property a fixed-width splitter lacks and the reason CDC is the
    * standard dedup primitive for both bytes (m03) and text (here).
    * Report: every ≥[[MinChunkWords]]-word chunk appearing in ≥2
    * distinct documents, with occurrence counts and the doc-id span.
    *
    * Plan shape: one per-doc window (lag shingle + running boundary
    * sum — bounded by doc length), one (doc, chunk) aggregate, one
    * corpus-wide hash groupBy. Nothing pairwise, nothing quadratic:
    * the cross-doc meeting point is the chunk-hash aggregate, the
    * same contract as d01's exact dedup. Boundary hash reads ONE hex
    * digit of md5 (portable); chunk identity is the full md5 of the
    * chunk text. Plants (the d02 corpus) guarantee measured repeats:
    * a last-word-truncated copy shares every interior chunk of its
    * original. */
  /** The shared CDC chunk relation: (doc_id, chunk_idx, n_words,
    * chunk_text, chunk_hash) — one per-doc window pass + one
    * (doc, chunk) aggregate; d68 reports over it, d69 strips with
    * it. */
  private def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = corpusWithPlants(spark, dir)
      .select(col("doc_id"),
        posexplode(TextFunctions.words(col("text")))
          .as(Seq("pos", "w")))
    val bd = words
      .withColumn("w1", lag(col("w"), 1).over(byDoc))
      .withColumn("w2", lag(col("w"), 2).over(byDoc))
      .withColumn("boundary",
        (col("pos") >= ChunkShingle - 1 &&
          pmod(conv(substring(md5(concat_ws(" ",
            col("w2"), col("w1"), col("w"))), 16, 1), 16, 10)
            .cast("long"), lit(ChunkMod.toLong)) === 0L).cast("long"))
    bd
      .withColumn("chunk_idx", coalesce(
        sum(col("boundary")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_words"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text")))
  }

  def d68CdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(spark, dir).filter(col("n_words") >= MinChunkWords)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        min(col("n_words")).as("n_words"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_hash"))

  /** DuckDB oracle for d68: words with positions, the lag-shingle
    * boundary walk, running-sum chunk ids, ordered string_agg chunk
    * hashing, and the cross-doc report — step for step. */
  lazy val d68Sql: String =
    s"""WITH wl AS (
       |  SELECT doc_id, ${TextFunctions.wordsSql} AS wl
       |  FROM ($corpusSql)),
       |words AS (
       |  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(wl)),
       |        i -> struct_pack(pos := i - 1, w := wl[i]))) AS u
       |    FROM wl) s),
       |sh AS (
       |  SELECT doc_id, pos, w,
       |    LAG(w, 2) OVER dw AS w2, LAG(w, 1) OVER dw AS w1
       |  FROM words
       |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |bd AS (
       |  SELECT doc_id, pos, w,
       |    CASE WHEN pos >= ${ChunkShingle - 1} AND
       |      (strpos('0123456789abcdef', substring(
       |         md5(w2 || ' ' || w1 || ' ' || w), 16, 1)) - 1)
       |        % $ChunkMod = 0
       |      THEN 1 ELSE 0 END AS boundary
       |  FROM sh),
       |ci AS (
       |  SELECT doc_id, pos, w,
       |    COALESCE(SUM(boundary) OVER (PARTITION BY doc_id
       |      ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_idx
       |  FROM bd),
       |ch AS (
       |  SELECT doc_id, chunk_idx, COUNT(*) AS n_words,
       |    md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM ci GROUP BY doc_id, chunk_idx)
       |SELECT chunk_hash,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(MIN(n_words) AS BIGINT) AS n_words
       |FROM ch WHERE n_words >= $MinChunkWords
       |GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY chunk_hash""".stripMargin

  /** d69: the EXACT-SUBSTRING-DEDUP DELIVERABLE — the corpus with
    * repeated passages STRIPPED (what d68 reports, d69 removes; the
    * Lee et al. treatment's output side). Every ≥[[MinChunkWords]]-word
    * CDC chunk occurring ≥2 times in the corpus keeps only its FIRST
    * occurrence (min (doc_id, chunk_idx) — d01's keep-min convention,
    * applied intra-doc too, so self-repetition is stripped along with
    * cross-doc boilerplate); all later occurrences are cut and the
    * surviving chunks re-join in order as the doc's deduped text.
    * Per doc: chunk/drop counts, word counts in/out, and the stripped
    * text itself.
    *
    * Plan shape: the shared [[cdcChunks]] relation (one per-doc
    * window + one (doc, chunk) aggregate), then ONE chunk-hash
    * groupBy for the keeper election (partial-aggregable min/count —
    * never a per-hash window, so a mass-duplicated chunk costs its
    * combiner nothing), one equi-join back, one per-doc aggregate to
    * re-assemble. Nothing pairwise. Known trade, chosen eyes-open:
    * the occ and keeper sides each expand the chunk derivation (the
    * plan computes it twice; measured, the exchanges do NOT
    * canonicalize into a ReusedExchange) — the alternative, a
    * min-over-hash window, derives once but materializes every
    * occurrence of a mass-duplicated chunk in ONE window partition,
    * the exact degenerate case this repo's dedup operators are built
    * to avoid; 2× a doc-partitioned CPU pass is the cheaper side of
    * that trade at every scale. The keeper key packs
    * (doc_id, chunk_idx) as doc_id·10⁶+idx — exact while docs stay
    * under 10⁶ chunks (testdata docs are ≤10³ words; a corpus of
    * book-length docs would widen the packing, noted here). */
  def d69CdcStrip(spark: SparkSession, dir: String): DataFrame = {
    val occ = cdcChunks(spark, dir)
      .withColumn("k", col("doc_id") * lit(1000000L) + col("chunk_idx"))
    val dups = occ.filter(col("n_words") >= MinChunkWords)
      .groupBy(col("chunk_hash"))
      .agg(min(col("k")).as("keep_k"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("chunk_hash"), col("keep_k"))
    occ.join(dups.hint("shuffle_hash"), Seq("chunk_hash"), "left")
      .withColumn("dropped",
        (col("keep_k").isNotNull && col("k") =!= col("keep_k"))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("dropped")).as("n_dropped"),
        sum(col("n_words")).as("words_in"),
        sum(when(col("dropped") === 0, col("n_words"))
          .otherwise(0L)).as("words_out"),
        array_join(transform(filter(
          array_sort(collect_list(struct(
            col("chunk_idx"), col("dropped"), col("chunk_text")))),
          s => s.getField("dropped") === 0),
          s => s.getField("chunk_text")), " ").as("text_out"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for d69: the d68 chunk CTEs extended with chunk
    * text, the packed-key keeper election, and the per-doc
    * re-assembly — step for step. */
  lazy val d69Sql: String =
    s"""WITH wl AS (
       |  SELECT doc_id, ${TextFunctions.wordsSql} AS wl
       |  FROM ($corpusSql)),
       |words AS (
       |  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(wl)),
       |        i -> struct_pack(pos := i - 1, w := wl[i]))) AS u
       |    FROM wl) s),
       |sh AS (
       |  SELECT doc_id, pos, w,
       |    LAG(w, 2) OVER dw AS w2, LAG(w, 1) OVER dw AS w1
       |  FROM words
       |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |bd AS (
       |  SELECT doc_id, pos, w,
       |    CASE WHEN pos >= ${ChunkShingle - 1} AND
       |      (strpos('0123456789abcdef', substring(
       |         md5(w2 || ' ' || w1 || ' ' || w), 16, 1)) - 1)
       |        % $ChunkMod = 0
       |      THEN 1 ELSE 0 END AS boundary
       |  FROM sh),
       |ci AS (
       |  SELECT doc_id, pos, w,
       |    COALESCE(SUM(boundary) OVER (PARTITION BY doc_id
       |      ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_idx
       |  FROM bd),
       |ch AS (
       |  SELECT doc_id, chunk_idx, COUNT(*) AS n_words,
       |    string_agg(w, ' ' ORDER BY pos) AS chunk_text,
       |    md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
       |    doc_id * 1000000 + chunk_idx AS k
       |  FROM ci GROUP BY doc_id, chunk_idx),
       |dups AS (
       |  SELECT chunk_hash, MIN(k) AS keep_k
       |  FROM ch WHERE n_words >= $MinChunkWords
       |  GROUP BY chunk_hash HAVING COUNT(*) >= 2),
       |marked AS (
       |  SELECT ch.*, CASE WHEN d.keep_k IS NOT NULL
       |      AND ch.k <> d.keep_k THEN 1 ELSE 0 END AS dropped
       |  FROM ch LEFT JOIN dups d USING (chunk_hash))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       |  CAST(SUM(n_words) AS BIGINT) AS words_in,
       |  CAST(SUM(CASE WHEN dropped = 0 THEN n_words ELSE 0 END)
       |    AS BIGINT) AS words_out,
       |  COALESCE(string_agg(CASE WHEN dropped = 0 THEN chunk_text END,
       |    ' ' ORDER BY chunk_idx), '') AS text_out
       |FROM marked
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
