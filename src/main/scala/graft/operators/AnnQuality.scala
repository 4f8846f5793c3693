package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pins

/** ANN QUALITY measurement (SURVEY.md §2d): recall@k vs nprobe for
  * the trained IVF index.
  *
  * d25 proves the index EXACT at full probe (nprobe = K ⇒ identical
  * to brute force — the degeneracy pin). A real user runs nprobe ≪ K
  * and needs the quality curve: what fraction of the true top-k does
  * a partial probe return? The sf embeddings are uniform synthetic —
  * no cluster structure, so recall there measures noise. This module
  * PLANTS a clustered corpus (deterministic: every value is a hash of
  * its indices — reproducible on any cluster size, no RNG stream),
  * trains the same integer-quantized k-means the production path
  * uses, and sweeps nprobe, measuring recall@k against exact brute
  * force over the same vectors.
  *
  * The geometry is deliberately OVERLAPPING (jitter comparable to
  * centroid separation): tight well-separated clusters would pin the
  * whole curve at 1.0 and measure nothing. With overlap, a query's
  * true neighbors spill into adjacent cells and recall climbs with
  * nprobe — the shape a production tuning decision actually reads.
  *
  * The committed artifact is `ann_recall.json` ([[graft.AnnRecall]]);
  * PipelineSpec pins the floor (recall@10 ≥ 0.9 at nprobe = 4), the
  * monotone climb, and exactness at full probe.
  */
object AnnQuality {

  val Dim = 64
  val Clusters = 16
  val PerCluster = 125 // corpus = 2000 vectors
  val CorpusN: Long = Clusters.toLong * PerCluster
  val QueryN = 32
  val RecallK = 10
  val NProbes = Seq(1, 2, 4, 8, 16)

  /** Cluster centers spread per-dim over [0, CentScale); member
    * jitter over [0, Jitter). Chosen so clusters overlap enough that
    * partial probes lose neighbors (a measurable curve) but remain
    * the dominant structure (k-means recovers them). */
  val CentScale = 100000L
  val Jitter = 180000L

  /** Codebook sizes for the PQ quality sweep. 16 codes/subspace (the
    * oracle-verified default) resolves only between-cluster structure
    * — with 16 planted clusters the codes COLLAPSE onto them and ADC
    * cannot rank within a cluster (measured: recall ≈ k/members, the
    * tie-break floor; the known small-book failure mode). Recall
    * climbs with book size because finer codes start separating
    * within-cluster neighbors — the production tuning lever (real
    * systems run 256 codes/subspace + residual encoding). */
  val BookSizes = Seq(16, 64, 256)

  /** A planted member vector, directly in the quantized integer space
    * the trained path searches: qv[d] = center(cluster, d) + jitter.
    * `seed` decouples corpus member jitter from query jitter. */
  private def plantedQv(cluster: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, seed: Long, jitter: Long) =
    transform(sequence(lit(0), lit(Dim - 1)), d =>
      pmod(xxhash64(cluster, d, lit(1L)), lit(CentScale))
        + pmod(xxhash64(id, d, lit(seed)), lit(jitter)))

  /** (vec_id, cluster, qv) — vec_id % Clusters is the cluster, so the
    * first [[Clusters]] ids are one seed member per cluster (the
    * deterministic k-means init subset). */
  def corpus(spark: SparkSession, jitter: Long = Jitter): DataFrame =
    spark.range(CorpusN).select(
      col("id").as("vec_id"),
      pmod(col("id"), lit(Clusters.toLong)).as("cluster"))
      .withColumn("qv", plantedQv(col("cluster"), col("vec_id"), 2L, jitter))

  /** (q_id, q_qv) — fresh jittered members of the same clusters. */
  def queries(spark: SparkSession, jitter: Long = Jitter): DataFrame =
    spark.range(QueryN.toLong).select(
      col("id").as("q_id"),
      pmod(col("id"), lit(Clusters.toLong)).as("cluster"))
      .withColumn("q_qv", plantedQv(col("cluster"), col("q_id"), 3L, jitter))
      .select(col("q_id"), col("q_qv"))

  /** Exact top-k ground truth: every query against every corpus
    * vector. Quadratic by design — this is the calibration baseline
    * (the d11 role), bounded to the planted relation. */
  def bruteTopK(queries: DataFrame, cands: DataFrame, k: Int): DataFrame =
    Similarity.rankTop(cands.crossJoin(broadcast(queries))
        .withColumn("dist", Similarity.qDist(col("q_qv"), col("qv"))),
      "dist", k, col("q_id"), col("vec_id"))
      .select(col("q_id"), col("vec_id"))

  /** The planted (corpus, queries) pair and its exact top-[[RecallK]]
    * truth. */
  private def planted(spark: SparkSession)
      : (DataFrame, DataFrame, DataFrame) = {
    val corp = corpus(spark).select(col("vec_id"), col("qv"))
    val qs = queries(spark)
    (corp, qs, bruteTopK(qs, corp, RecallK))
  }

  /** The planted corpus's k-means centroids, seeded by one member per
    * cluster (the first [[Clusters]] ids) and trained on every vector
    * of `corp`. */
  private def trained(corp: DataFrame): DataFrame =
    Similarity.kmeansQuantized(corp,
      Similarity.seeds(corp, col("vec_id") < Clusters.toLong),
      Similarity.KmIters)

  /** recall@[[RecallK]]: the share of `truth`'s (q_id, vec_id) rows
    * that `found` returns. */
  private def recall(found: DataFrame, truth: DataFrame): Double =
    found.select(col("q_id"), col("vec_id"))
      .join(truth, Seq("q_id", "vec_id"), "left_semi")
      .count() / (QueryN * RecallK).toDouble

  /** recall@[[RecallK]] per nprobe: train ONCE (the centroids are a
    * bounded local relation), sweep the probe width over the search
    * leg only. Returns (nprobe, recall) with recall ∈ [0, 1]. */
  def recallCurve(spark: SparkSession,
      nprobes: Seq[Int] = NProbes): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    nprobes.map { np => (np, recall(
      Similarity.ivfSearchTrained(qs, corp, cents, np, RecallK), truth)) }
  }

  /** Beam widths for the d84 nav-graph sweep. */
  val NavBeams = Seq(2, 4, 8, 16, 32)

  /** recall@[[RecallK]] of the GRAPH-NAVIGABLE beam walk (d84) vs
    * exact brute force, per beam width: train the coarse router once,
    * build the nav graph once ([[Similarity.navGraphParts]] —
    * checkpointed so the sweep re-walks, never re-builds), sweep the
    * beam over [[Similarity.navBeamWalk]]. Monotone in beam by
    * construction (a wider beam's frontier is a superset hop by
    * hop), so the curve reads as the serving knob it is: beam width
    * buys recall at O(beam · NavK) scored candidates per hop. */
  def navRecallCurve(spark: SparkSession,
      beams: Seq[Int] = NavBeams): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    val (edges, entries, _) = Similarity.navGraphParts(corp, cents)
    val edgesC = Pins.checkpoint(edges)
    val entriesC = Pins.checkpoint(entries)
    try beams.map { b => (b, recall(Similarity.navBeamWalk(qs, corp,
      cents, edgesC, entriesC, b, Similarity.NavHops, RecallK), truth)) }
    finally { Pins.unpin(edgesC); Pins.unpin(entriesC) }
  }

  /** recall@[[RecallK]] of the beam walk over the INSERTED graph
    * (d94) per beam width: the base graph is built WITHOUT the
    * delta slice (every 10th corpus vector), the delta is then
    * batch-inserted via [[Similarity.navInsertParts]] (bidirectional
    * link + shrink), and the walk runs over the merged graph with
    * the BASE medoid entries — recall measured against the
    * FULL-corpus brute truth. Read NEXT TO [[navRecallCurve]] (the
    * full rebuild at the same beams): the gap is the quality price
    * of freshness-by-insert, which is the number an operator needs
    * before trusting d94 between rebuilds. */
  def insertRecallCurve(spark: SparkSession,
      beams: Seq[Int] = NavBeams): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val base = corp.filter(col("vec_id") < Clusters.toLong ||
      col("vec_id") % Similarity.DeltaMod =!= 0)
    val delta = corp.filter(col("vec_id") >= Clusters.toLong &&
      col("vec_id") % Similarity.DeltaMod === 0)
    val cents = trained(base)
    val (bEdges, bEntries, bPosted) =
      Similarity.navGraphParts(base, cents)
    val cks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (dEdges, redges, _) = Similarity.navInsertParts(
      corp, cents, bPosted, bEdges, delta, cks)
    val merged = Pins.checkpoint(
      Similarity.mergeNavEdges(bEdges, dEdges, redges))
    cks.foreach(Pins.unpin) // merged is materialized past them
    val entriesC = Pins.checkpoint(bEntries)
    try beams.map { b => (b, recall(Similarity.navBeamWalk(qs, corp,
      cents, merged, entriesC, b, Similarity.NavHops, RecallK), truth)) }
    finally { Pins.unpin(merged); Pins.unpin(entriesC) }
  }

  /** recall@[[RecallK]] of the HIERARCHICAL walk (d86) per beam
    * width: same trained router and truth as [[navRecallCurve]], the
    * entry replaced by the HNSW-style layer descent — the committed
    * pair of curves reads as "what the hierarchy buys over medoid
    * entries at equal beam". */
  def hnswRecallCurve(spark: SparkSession,
      beams: Seq[Int] = NavBeams): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    beams.map { b => (b, recall(Similarity.hnswWalk(qs, corp, cents, b,
      Similarity.NavHops, RecallK), truth)) }
  }

  /** recall@[[RecallK]] for the FULL d28 composition (IVF probe + PQ
    * codes + ADC ranking) vs the same exact-brute-force truth: the
    * curve carries BOTH quality losses a production index pays —
    * probe misses (cells not searched) and quantization error (ADC
    * mis-ranking within searched cells). At nprobe = K the IVF loss
    * vanishes, so that point reads the PURE quantization cost at the
    * given `nCodes` book size. */
  def ivfpqRecallCurve(spark: SparkSession,
      nprobes: Seq[Int] = NProbes,
      nCodes: Int = Similarity.PqCodes): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    val assigned = Similarity.ivfAssign(corp, cents)
    val slicedC = Similarity.pqSlices(corp, "grp", col("vec_id"))
    val book = Similarity.kmeansGrouped(slicedC,
      slicedC.filter(col("vec_id") < nCodes.toLong)
        .select(col("grp"), col("vec_id").as("cent_id"), col("qv").as("qc")),
      Similarity.KmIters)
    val codes = Similarity.groupedCodes(corp, book)
    val table = Similarity.adcTable(qs.select(col("q_id"),
      col("q_qv").as("qv")), book, "grp", "cent_id", col("q_id"))
    nprobes.map { np =>
      (np, recall(Similarity.adcRank(
        Similarity.probed(qs, cents, np, assigned)
          .select(col("q_id"), col("vec_id"))
          .join(codes, Seq("vec_id"))
          .join(broadcast(table), Seq("q_id", "sub", "code")), RecallK),
        truth))
    }
  }

  /** recall@[[RecallK]] for the d29 RESIDUAL composition — the same
    * sweep as [[ivfpqRecallCurve]] with the PQ books trained on
    * r = v − centroid(cell(v)) and the ADC tables keyed by probed
    * cell. The PAIR of curves is the measured case for residual
    * encoding: raw-vector books spend their codes re-describing the
    * coarse cell structure (small books collapse onto cells and
    * cannot rank within one — the recorded failure mode); residual
    * books spend the same bits on within-cell structure. Trains the
    * coarse index and the book ONCE per call, sweeps the probe leg. */
  def residualRecallCurve(spark: SparkSession,
      nprobes: Seq[Int] = NProbes,
      nCodes: Int = Similarity.PqCodes): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    val resid = Similarity.cellResiduals(corp, cents)
    val book = Similarity.trainResidualBook(resid, nCodes.toLong)
    nprobes.map { np => (np, recall(Similarity.residualAdcScan(
      qs, resid, cents, book, np, RecallK), truth)) }
  }

  /** Shortlist widths / projection widths for the projected-rerank
    * quality sweeps. */
  val RerankRs = Seq(10, 20, 50, 100)
  val ProjDims = Seq(8, 16, 32)

  /** The d47 PRODUCTION-config sweep: residual IVF+PQ compressed
    * shortlist of width R, then exact re-rank to [[RecallK]] —
    * recall per R at a fixed book size and probe width. Trains the
    * coarse index and the residual book ONCE per call; only the
    * probe/re-rank legs sweep. Recall is CAPPED by the
    * full-precision probe ceiling (unsearched cells stay unsearched);
    * the pinned floors (PipelineSpec): ≥95% of that ceiling
    * recovered at nprobe=4 (0.881 vs 0.916), and ≥0.9 absolute at
    * 256 codes, R=100, nprobe=8 — the compressed scan's 0.39 ceiling
    * bought back to what a deployed IVFPQ+refine actually serves. */
  def residualRerankRecallCurve(spark: SparkSession,
      rs: Seq[Int] = Seq(20, 50, 100),
      nCodes: Int = Similarity.PqCodes,
      np: Int = Similarity.NProbe): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    val cents = trained(corp)
    val resid = Similarity.cellResiduals(corp, cents)
    val book = Similarity.trainResidualBook(resid, nCodes.toLong)
    rs.map { r =>
      val short = Similarity.residualAdcScan(qs, resid, cents, book, np, r)
        .select(col("q_id"), col("vec_id"))
      (r, recall(Similarity.exactRerank(short, corp, qs, RecallK), truth))
    }
  }

  /** recall@[[RecallK]] of d45's projected-shortlist re-rank per
    * shortlist width R on the planted clustered corpus. A 16-of-64
    * ±1 projection cannot RANK within-cluster fine structure (JL
    * distortion √(ln N / dims) ≈ 0.7 — the honest math of 4×
    * compression), so recall at R = k is low and CLIMBS with R
    * (measured 0.09 → 0.45 over 10 → 100): the projection buys a
    * cheap shortlist, the exact re-rank buys the ranking back, and
    * the curve is the R-tuning tradeoff a user reads. On UNIFORM
    * vectors it's worse still (≈0.18 at R=20 on the sf corpus —
    * distance concentration, nothing for the projection to keep). */
  def projectedRecallCurve(spark: SparkSession,
      rs: Seq[Int] = RerankRs): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    rs.map { r => (r, recall(
      Similarity.projectedRerank(qs, corp, r, RecallK), truth)) }
  }

  /** The other lever: recall vs PROJECTION width at fixed shortlist
    * R — more projected dims, less JL distortion, better shortlist
    * (the dims↔storage tradeoff knob). */
  def projectedDimsCurve(spark: SparkSession,
      dims: Seq[Int] = ProjDims, r: Int = 50): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    dims.map { d => (d, recall(
      Similarity.projectedRerank(qs, corp, r, RecallK, d), truth)) }
  }

  /** MRL serving sweep widths (prefix dims) — 64 is the exactness
    * control: a full-width "prefix" shortlist IS the exact ranking,
    * so recall@k must be 1.0 whenever R ≥ k. */
  val MrlWidths = Seq(8, 16, 32, 64)
  val MrlRs = Seq(10, 20, 50, 100)

  /** d67 recall surface: recall@[[RecallK]] of the MRL-prefix
    * shortlist → full-width re-rank serving config, vs shortlist R at
    * the serving width — the (width, R) quality surface a production
    * truncation decision reads next to d64's prefix-only ladder. */
  def mrlRerankCurve(spark: SparkSession,
      rs: Seq[Int] = MrlRs, width: Int = Similarity.MrlWidth)
      : Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    rs.map { r => (r, recall(
      Similarity.prefixRerank(qs, corp, r, RecallK, width), truth)) }
  }

  /** The width leg of the d67 surface at fixed R. */
  def mrlWidthCurve(spark: SparkSession,
      widths: Seq[Int] = MrlWidths, r: Int = 50): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    widths.map { d => (d, recall(
      Similarity.prefixRerank(qs, corp, r, RecallK, d), truth)) }
  }

  /** d88 recall curve: recall@[[RecallK]] of the 1-bit Hamming
    * shortlist → exact re-rank serving config vs shortlist R — the
    * same R-tuning read as d45/d67's curves, at 64× compression (one
    * sign bit per dimension, the most aggressive leg). Expectation on
    * the planted corpus: mean-threshold sign bits keep cluster
    * membership (centers differ per dimension) but rank
    * within-cluster structure poorly (jitter around the center flips
    * few bits), so recall climbs with R like the other cheap
    * shortlists — the committed curve quantifies where 8-byte
    * signatures stop being free. */
  def binaryRerankCurve(spark: SparkSession,
      rs: Seq[Int] = RerankRs): Seq[(Int, Double)] = {
    val (corp, qs, truth) = planted(spark)
    rs.map { r => (r, recall(
      Similarity.binaryRerank(qs, corp, r, RecallK), truth)) }
  }

  /** d91 fusion evidence: recall@[[RecallK]] of the BORDA-FUSED
    * ranking vs each single retriever's raw top-k — the fusion
    * claim measured. `hamming_only`/`prefix_only` are R-independent
    * (top-k of one ranking); the fused curve sweeps list depth R.
    * Returns (hammingOnly, prefixOnly, fusedByR). */
  def fusionRecallCurve(spark: SparkSession,
      rs: Seq[Int] = RerankRs): (Double, Double, Seq[(Int, Double)]) = {
    val (corp, qs, truth) = planted(spark)
    val (qBits, cBits) = Similarity.binarySignatures(qs, corp)
    val hammingOnly = recall(Similarity.hammingRanks(qBits, cBits)
      .filter(col("rnk") <= RecallK), truth)
    val prefixOnly = recall(Similarity.prefixRanks(qs, corp)
      .filter(col("rnk") <= RecallK), truth)
    val fused = rs.map { r =>
      (r, recall(Similarity.rankFusion(qs, corp, r, RecallK), truth))
    }
    (hammingOnly, prefixOnly, fused)
  }

  /** BANDING recall on the planted corpus — the d55-vs-d59 trade as
    * a committed measurement: of each vector's exact
    * top-[[RecallK]] neighbor edges, the share each
    * candidate-generation scheme would PROPOSE (collide on) —
    * d55's 2×16-bit exact banding vs d59's 20-bit band probed at
    * Hamming radius 1, both over the same 32-plane portable
    * signature family. The predicates are evaluated directly on the
    * truth edges (this measures the collision curve, the d42 role;
    * candidate volume is the other side of the trade and is
    * measured by the scale curve). */
  def bandingRecall(spark: SparkSession): Seq[(String, Double)] = {
    val corp = corpus(spark)
    val sigs = corp.select(col("vec_id"),
      Similarity.portableLshSignature(
        col("qv").cast("array<double>")).as("sig"))
    val truth = bruteTopK(
        corp.select(col("vec_id").as("q_id"), col("qv").as("q_qv")),
        corp.select(col("vec_id"), col("qv")), RecallK + 1)
      .filter(col("q_id") =!= col("vec_id")) // drop the self edge
    val scored = truth
      .join(sigs.select(col("vec_id").as("q_id"), col("sig").as("sa")),
        Seq("q_id"))
      .join(sigs.select(col("vec_id"), col("sig").as("sb")),
        Seq("vec_id"))
    val wideHit = (0 until Similarity.WideTables).map(h =>
        shiftright(col("sa"), h * Similarity.WideBits)
          .bitwiseAND(lit(0xffffL)) ===
        shiftright(col("sb"), h * Similarity.WideBits)
          .bitwiseAND(lit(0xffffL)))
      .reduce(_ || _)
    val mask = (1L << Similarity.MpBits) - 1
    val mpHit = expr(s"bit_count((sa & $mask) ^ (sb & $mask)) <= 1")
    val r = scored.agg(avg(wideHit.cast("double")),
      avg(mpHit.cast("double"))).head()
    val cellHit = truth
      .join(cellProbes(spark).select(col("vec_id").as("q_id"),
        col("cell")), Seq("q_id"))
      .join(cellPrimary(spark).select(col("vec_id"), col("cell")),
        Seq("vec_id", "cell"), "left_semi")
      .select(col("q_id"), col("vec_id")).distinct().count()
    Seq("wide_2x16" -> r.getDouble(0),
      "multiprobe_20bit_h1" -> r.getDouble(1),
      "cell_blocked_16x2" -> cellHit.toDouble / truth.count())
  }

  /** Per-vector (vec_id, cell, rn) under k-means centroids trained on
    * the planted corpus — the d66 blocking, audit-side. */
  private def cellRanked(spark: SparkSession): DataFrame = {
    val corp = corpus(spark).select(col("vec_id"), col("qv"))
    Similarity.cellRanks(corp, trained(corp), "vec_id", "qv")
      .select(col("vec_id"), col("cent_id").as("cell"), col("rn"))
  }

  /** Posting side EXACTLY as the d66 generator builds it: primary
    * cells filtered through the [[Similarity.NearDupMaxBucket]]
    * capped-cell set — without the cap the audit would overstate the
    * generator's recall/volume whenever a cell exceeds it (ADVICE
    * r10; harmless at this corpus's occupancy, but the audit must
    * measure the generator's ACTUAL candidate relation). */
  private def cellPrimary(spark: SparkSession): DataFrame = {
    val primary = cellRanked(spark).filter(col("rn") === 1)
    val capped = primary.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= Similarity.NearDupMaxBucket)
      .select(col("cell"))
    primary.join(capped, Seq("cell"), "left_semi")
  }

  private def cellProbes(spark: SparkSession): DataFrame =
    cellRanked(spark).filter(col("rn") <= Similarity.CellProbes)

  /** CANDIDATE VOLUME per scheme on the planted corpus — the other
    * side of the recall trade, committed next to it (round-9 verdict
    * item 3's bar: d66's recall must land at candidate volume ≤
    * d59's). Counts DISTINCT directed (q, v) candidate pairs each
    * scheme proposes, exactly as its generator joins them. */
  def candidateVolumes(spark: SparkSession): Seq[(String, Long)] = {
    val corp = corpus(spark)
    // checkpointed for the three reuses below, unpinned before
    // returning — everything here is materialized by the count()s,
    // so the blocks must not outlive the call (ADVICE r10)
    val sigs = Pins.checkpoint(corp.select(col("vec_id"),
        Similarity.portableLshSignature(
          col("qv").cast("array<double>")).as("sig")))
    try {
      val wide = (0 until Similarity.WideTables).map { h =>
        val b = sigs.select(col("vec_id"),
          shiftright(col("sig"), h * Similarity.WideBits)
            .bitwiseAND(lit(0xffffL)).as("b"))
        b.as("a").join(b.as("bb"), col("a.b") === col("bb.b") &&
            col("a.vec_id") =!= col("bb.vec_id"))
          .select(col("a.vec_id").as("q_id"), col("bb.vec_id").as("vec_id"))
      }.reduce(_ unionByName _).distinct().count()
      val mask = (1L << Similarity.MpBits) - 1
      val mp20 = sigs.select(col("vec_id"),
        col("sig").bitwiseAND(lit(mask)).as("b"))
      val mp = mp20.as("a").join(mp20.as("bb"),
          expr("bit_count(a.b ^ bb.b) <= 1") &&
            col("a.vec_id") =!= col("bb.vec_id"))
        .count()
      val cell = cellProbes(spark).select(col("vec_id").as("q_id"),
          col("cell"))
        .join(cellPrimary(spark), Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id")).distinct().count()
      Seq("wide_2x16" -> wide, "multiprobe_20bit_h1" -> mp,
        "cell_blocked_16x2" -> cell)
    } finally Pins.unpin(sigs)
  }
}
