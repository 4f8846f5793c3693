package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.{Pins, Tables}

/** Link-graph analytics (SURVEY.md §2d): PageRank centrality — the
  * link-quality signal web-corpus pipelines rank crawl frontiers and
  * filter training documents with (CommonCrawl-style harmonic/
  * PageRank document scoring; Page/Brin/Motwani/Winograd, public
  * algorithm). The graph here is the customer↔supplier trade graph
  * the TPC-H-ish tables define (an edge per distinct trading pair,
  * walked undirected so the chain has no dangling mass).
  *
  * Same engineering contract as the k-means trainer
  * ([[Similarity.kmeansQuantized]]): EXACT integer arithmetic —
  * ranks live on a 10⁶ grid, per-edge contributions are floor
  * divisions, the damping step is an integer multiply-then-floor —
  * so a fixed-iteration run is bit-identical on any partitioning and
  * the DuckDB oracle replays the iterations verbatim.
  */
object LinkGraph {

  /** Supplier node-id offset (disjoint from customer keys). */
  val SuppBase = 1000000L

  /** Fixed-point rank scale: r₀ = 1.0 ≡ 10⁶. */
  val RankScale = 1000000L

  /** Damping d = 0.85 as the integer pair 85/100. */
  val DampNum = 85L
  val DampDen = 100L

  val PrIters = 3

  /** The pinned distinct customer→supplier pair relation, memoized
    * per (session, dir) and shared by d32 (which folds it undirected)
    * and d36 (which walks it as-is). Duplicate-tolerant: distinct
    * BELOW the join bounds the orderkey join by true key cardinality
    * (measured 130 s → 13 s on the 100× replica — re-ingested/
    * replicated rows would otherwise multiply on both sides). */
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    Pins.memo(spark, ("trade-pairs", dir)) {
      val ord = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")).distinct()
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      Pins.persist(ord.join(li.hint("shuffle_hash"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct(), MEMORY_AND_DISK)
    }

  /** d32: PageRank over the customer↔supplier graph. Iteration k:
    * r'(v) = (1−d)·scale + floor(d · Σ_{u∼v} floor(r(u)/deg(u))).
    *
    * Plan shape at scale: the edge relation (src, dst, deg) builds
    * ONCE (one distinct + one degree aggregate, both hashing on the
    * edge key) and each iteration is one shuffled equi-join of the
    * current rank relation against it plus one dst-keyed sum — the
    * Pregel message-passing shape, 2 narrow shuffles per round,
    * nothing corpus-sized ever broadcast (ranks and degrees are
    * node-scale aggregate outputs with no stats — Catalyst would
    * happily broadcast them at test scale and OOM at real scale, so
    * the joins pin shuffled builds; the d16/t11 lesson). Nodes
    * outside every edge have no walk semantics and are excluded by
    * construction. */
  /** Iteration discipline (r9): each round's rank relation is
    * local-checkpointed (`Pins.checkpoint`) — the plan stays one
    * join deep every round instead of rounds-deep, killing the
    * re-plan/re-codegen growth the round-8 audit flagged, while the
    * per-round work (one shuffled equi-join against the pinned edge
    * relation + one dst-keyed sum) keeps Tungsten's columnar shuffle.
    * (An RDD Pregel loop — the connectedComponents treatment — was
    * MEASURED 2.7× SLOWER at sf10, 246 s vs 92 s: the trade graph's
    * edge relation is corpus-scale, and RDD object shuffles give up
    * Tungsten's columnar serialization, which costs more than the
    * re-planning the RDD loop saves.) */
  def d32Pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradePairs(spark, dir)
    val und = edges.select(col("c").as("src"),
        (col("s") + SuppBase).as("dst"))
      .unionAll(edges.select((col("s") + SuppBase).as("src"),
        col("c").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // memoized per (session, dir): every round re-walks it, and
    // unpinned each round would re-derive it from the lineitem scan.
    // Pinned PRE-PARTITIONED on src: the cached relation's output
    // partitioning satisfies every round's join requirement, so each
    // iteration shuffles ONLY the node-scale rank relation — the
    // corpus-scale edge side never re-exchanges (the fixed-partitioner
    // idea of a Pregel loop, kept inside Tungsten)
    val withDeg = Pins.memo(spark, ("d32-graph", dir))(Pins.persist(
      und.join(deg.hint("shuffle_hash"), Seq("src"))
        .repartition(col("src")), MEMORY_AND_DISK))
    // NOTE (r17, measured and kept as-is): initializing r₀ from deg
    // (the oracle's shape — same rows) re-derives the degree
    // aggregate from the pair pin because deg's subtree isn't cached,
    // while this distinct reads the already-persisted withDeg —
    // same-window A/B read 5.2 s vs 3.6 s in favor of THIS form.
    var ranks = Pins.checkpoint(
      withDeg.select(col("src").as("node")).distinct()
        .select(col("node"), lit(RankScale).as("r")))
    for (_ <- 1 to PrIters) {
      ranks = Pins.checkpoint(withDeg
        .join(ranks.hint("shuffle_hash"),
          col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("m"))
        .select(col("dst").as("node"),
          (lit(RankScale - RankScale * DampNum / DampDen) +
            expr(s"(m * $DampNum) div $DampDen")).as("r")))
    }
    ranks
      .select(when(col("node") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("kind"),
        when(col("node") >= SuppBase, col("node") - SuppBase)
          .otherwise(col("node")).as("key"),
        col("r").as("rank_fp"))
      .orderBy(col("kind"), col("key"))
  }

  /** HITS iterations for d36. */
  val HitsIters = 2

  /** d36: HITS hubs & authorities (Kleinberg, public algorithm) over
    * the directed customer→supplier trade graph — the OTHER classic
    * link-quality signal: a good hub (customer) buys from good
    * authorities (suppliers), a good authority sells to good hubs.
    * Web-corpus curation uses exactly this mutual-reinforcement score
    * to pick seed/source quality where PageRank's random walk
    * over-rewards raw degree.
    *
    * Exactness contract (the d32/k-means discipline): scores live on
    * the [[RankScale]] grid; each half-step is an integer edge sum
    * followed by max-normalization `(raw · scale) div max(raw)` —
    * Kleinberg's L₂ norm would need sqrt, max-norm is the standard
    * integer-friendly variant with the same fixed point — so a
    * fixed-iteration run is bit-identical on any partitioning and
    * the oracle replays it with scalar subqueries. Sums stay in
    * BIGINT while max-degree · scale² < 2⁶³, i.e. degrees to ~9·10⁶
    * — document-scale graphs far past this corpus.
    *
    * Plan shape at scale: the directed pair relation materializes
    * ONCE ([[tradePairs]]); each half-step is one shuffled equi-join
    * of a node-scale score relation against it plus one key-keyed sum
    * (score relations are statless aggregate outputs — broadcast
    * would OOM at scale, so builds pin shuffled), and ONE collected
    * scalar (the max — the d23 bounded-driver-scalar pattern) turns
    * normalization into a literal. Each half-step's raw sum is
    * local-checkpointed (`Pins.checkpoint`, r9): the eager cut both
    * materializes the relation ONCE for its two consumers (the max
    * and the next half-step) and truncates lineage, so no action ever
    * replays the iteration chain and the per-round plan stays one
    * join deep. 2·[[HitsIters]] bounded driver round-trips total,
    * nothing corpus-sized ever on the driver. */
  def d36Hits(spark: SparkSession, dir: String): DataFrame = {
    val ed = tradePairs(spark, dir)
    var hubs = ed.select(col("c")).distinct()
      .select(col("c"), lit(RankScale).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to HitsIters) {
      val aRaw = Pins.checkpoint(
        ed.join(hubs.hint("shuffle_hash"), Seq("c"))
          .groupBy(col("s")).agg(sum(col("h")).as("ar")))
      val amax = aRaw.agg(max(col("ar"))).collect()(0).getLong(0)
      auths = aRaw.select(col("s"),
        expr(s"(ar * $RankScale) div $amax").as("a"))
      val hRaw = Pins.checkpoint(
        ed.join(auths.hint("shuffle_hash"), Seq("s"))
          .groupBy(col("c")).agg(sum(col("a")).as("hr")))
      val hmax = hRaw.agg(max(col("hr"))).collect()(0).getLong(0)
      hubs = hRaw.select(col("c"),
        expr(s"(hr * $RankScale) div $hmax").as("h"))
    }
    hubs.select(lit("hub").as("kind"), col("c").as("key"),
        col("h").as("score_fp"))
      .unionByName(auths.select(lit("authority").as("kind"),
        col("s").as("key"), col("a").as("score_fp")))
      .orderBy(col("kind"), col("key"))
  }

  val d36Sql: String = {
    def halfA(i: Int) =
      s"""ar$i AS (
         |  SELECT s, CAST(sum(h) AS BIGINT) AS ar
         |  FROM ed JOIN h${i - 1} USING (c) GROUP BY 1),
         |a$i AS (
         |  SELECT s, (ar * $RankScale) // (SELECT max(ar) FROM ar$i)
         |    AS a
         |  FROM ar$i)""".stripMargin
    def halfH(i: Int) =
      s"""hr$i AS (
         |  SELECT c, CAST(sum(a) AS BIGINT) AS hr
         |  FROM ed JOIN a$i USING (s) GROUP BY 1),
         |h$i AS (
         |  SELECT c, (hr * $RankScale) // (SELECT max(hr) FROM hr$i)
         |    AS h
         |  FROM hr$i)""".stripMargin
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |h0 AS (
       |  SELECT DISTINCT c, CAST($RankScale AS BIGINT) AS h FROM ed),
       |${(1 to HitsIters).map(i => halfA(i) + ",\n" + halfH(i))
          .mkString(",\n")}
       |SELECT 'hub' AS kind, CAST(c AS BIGINT) AS key,
       |  h AS score_fp FROM h$HitsIters
       |UNION ALL
       |SELECT 'authority' AS kind, CAST(s AS BIGINT) AS key,
       |  a AS score_fp FROM a$HitsIters
       |ORDER BY kind, key""".stripMargin
  }

  val d32Sql: String = {
    val base = RankScale - RankScale * DampNum / DampDen
    def step(i: Int) =
      s"""r$i AS (
         |  SELECT un.dst AS node,
         |    CAST($base + (sum(r${i - 1}.r // dg.deg) * $DampNum)
         |      // $DampDen AS BIGINT) AS r
         |  FROM un
         |  JOIN dg ON dg.src = un.src
         |  JOIN r${i - 1} ON r${i - 1}.node = un.src
         |  GROUP BY un.dst)""".stripMargin
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |un AS (
       |  SELECT c AS src, s + $SuppBase AS dst FROM ed
       |  UNION ALL
       |  SELECT s + $SuppBase AS src, c AS dst FROM ed),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |       FROM un GROUP BY 1),
       |r0 AS (SELECT src AS node, CAST($RankScale AS BIGINT) AS r
       |       FROM dg),
       |${(1 to PrIters).map(step).mkString(",\n")}
       |SELECT
       |  CASE WHEN node >= $SuppBase THEN 'supplier'
       |       ELSE 'customer' END AS kind,
       |  CAST(CASE WHEN node >= $SuppBase THEN node - $SuppBase
       |       ELSE node END AS BIGINT) AS key,
       |  r AS rank_fp
       |FROM r$PrIters
       |ORDER BY kind, key""".stripMargin
  }

  /** d74: TRIANGLE COUNT + global clustering coefficient of the d66
    * kNN graph — the graph-analytics staple next to PageRank (d32)
    * and HITS (d36), and the canonical distributed-join scale story:
    * counting triangles naively joins edges three ways with
    * sum-of-deg² wedges; ORIENTING every edge from its (degree, id)-
    * smaller endpoint to its larger one caps every node's out-degree
    * at O(√E) (the Schank/Wagner — node-iterator-core — construction,
    * public), so the wedge join is bounded and each triangle is
    * generated EXACTLY ONCE (its orientation-least vertex owns it).
    *
    * Graph choice is the scale argument: the undirected d66
    * trained-cell kNN graph has degree O(k) BY CONSTRUCTION at any
    * corpus size, so the wedge space is O(N·k²) — linear in N. (The
    * first cut used a supplier co-part co-occurrence graph: on
    * uniform-random assignments it densifies toward complete as the
    * corpus grows — 22 s at sf0.1 and quadratic beyond — and any
    * support threshold that sparsifies random data empties it. A
    * co-occurrence graph needs real affinity structure; the
    * embedding corpus HAS structure, and its triangle density is the
    * quantity SemDeDup-style pipelines actually care about.)
    * Everything below the graph build is distinct/groupBy/equi-join
    * — no windows, nothing driver-side; the one-row report carries
    * node/edge/wedge/triangle counts and the global clustering
    * coefficient 3T / Σ deg(deg−1)/2. */
  def d74Triangles(spark: SparkSession, dir: String): DataFrame = {
    // edges is consumed THREE ways (degrees, orientation, edge total)
    // and oriented three more (both wedge sides + the semi-join
    // close): without truncation each reference re-plans — and
    // re-executes — the whole d66 chain (k-means assignment window +
    // probe join + exact rank) under it, a 548-Exchange/180-scan
    // plan at r16 measurement. One eager checkpoint of the O(N·k)
    // edge list caps the plan at graph size (optimization guide §3.3:
    // materialise a multiply-referenced intermediate to truncate the
    // plan); rows are identical, so the oracle hash is untouched.
    val edges = Pins.checkpoint(Similarity.cellKnnEdges(spark, dir)
      .select(least(col("vec_id"), col("nbr_id")).as("u"),
        greatest(col("vec_id"), col("nbr_id")).as("v"))
      .distinct())
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.hint("shuffle_hash")
        .select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.hint("shuffle_hash")
        .select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Pins.checkpoint(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2").hint("shuffle_hash"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
    val triangles = wedges
      .join(oriented.select(col("src"), col("dst"))
        .hint("shuffle_hash"), Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedgeTotal = deg
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    val edgeTotal = edges.agg(count(lit(1)).as("n_edges"))
    triangles.crossJoin(broadcast(wedgeTotal))
      .crossJoin(broadcast(edgeTotal))
      .select(col("n_nodes"), col("n_edges"),
        col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles"),
        (round(lit(3.0) * col("n_triangles")
          / col("n_wedges"), 6) + lit(0.0)).as("clustering_coeff"))
  }

  /** DuckDB oracle for d74: the d66 replayed chain (trained cells →
    * capped posting → probe join → exact-cosine rank) undirected,
    * then degrees, (degree, id) orientation, bounded wedge join,
    * semi-join close. */
  lazy val d74Sql: String =
    s"""WITH ${Similarity.d66Ctes},
       |edges AS (
       |  SELECT DISTINCT LEAST(vec_id, nbr_id) AS u,
       |    GREATEST(vec_id, nbr_id) AS v
       |  FROM ranked WHERE rank <= ${Similarity.KnnK}),
       |deg AS (
       |  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS n FROM edges
       |    UNION ALL SELECT v AS n FROM edges) GROUP BY n),
       |wd AS (
       |  SELECT u, v, du.deg AS du, dv.deg AS dv
       |  FROM edges
       |  JOIN deg du ON du.n = u
       |  JOIN deg dv ON dv.n = v),
       |oriented AS (
       |  SELECT CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN u ELSE v END AS src,
       |    CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN v ELSE u END AS dst,
       |    CASE WHEN du < dv OR (du = dv AND u < v)
       |      THEN dv ELSE du END AS ddst
       |  FROM wd),
       |wedges AS (
       |  SELECT e1.dst AS src, e2.dst AS dst
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.src = e2.src AND (e1.ddst < e2.ddst
       |      OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))),
       |tri AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |  FROM wedges w
       |  WHERE EXISTS (SELECT 1 FROM oriented o
       |    WHERE o.src = w.src AND o.dst = w.dst)),
       |wt AS (
       |  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM deg),
       |et AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  ROUND(3.0 * n_triangles / n_wedges, 6) + 0.0
       |    AS clustering_coeff
       |FROM tri, wt, et""".stripMargin
}
