package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Relational6, Retrieval, Sampling,
  Similarity, Spatial}
import graft.sources.Interchange

/** Cross-checks for the sixth relational tranche (q66-q69) and the
  * r8 spatial/pipeline additions (g17, d51, d52) — each validated
  * against an independent formulation or hand-computed values. */
class Relational6Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q66 pareto: shares are monotone, end at 1.0, classes ordered") {
    val rows = Relational6.q66Pareto(spark, sf)
      .select("cum_share", "abc_class").as[(Double, String)].collect()
    assert(rows.nonEmpty)
    // cumulative share is nondecreasing and ends at exactly 1.0
    assert(rows.map(_._1).sliding(2).forall {
      case Array(a, b) => a <= b; case _ => true })
    assert(math.abs(rows.last._1 - 1.0) < 1e-9)
    // class sequence never goes backwards (A* B* C*)
    val cls = rows.map(_._2).mkString
    assert("^A*B*C*$".r.findFirstIn(cls).isDefined, s"bad order: $cls")
    // revenue total matches a direct aggregate
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/part.parquet"),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")))
      .head.getLong(0)
    val total = Relational6.q66Pareto(spark, sf)
      .agg(sum(col("revenue_cents"))).head.getLong(0)
    assert(total == direct)
  }

  test("q67 yoy: lag row equals previous year's revenue") {
    val out = Relational6.q67Yoy(spark, sf)
      .select("n_name", "yr", "revenue_cents", "prev_cents")
      .as[(String, Int, Long, Option[Long])].collect()
      .groupBy(_._1).values
    out.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      // first year of every nation has no prior
      assert(sorted.head._4.isEmpty)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          if (b._2 == a._2 + 1) assert(b._4.contains(a._3))
        case _ =>
      }
    }
  }

  test("q68 cumulative distinct equals running total of new customers") {
    val out = Relational6.q68CumDistinct(spark, sf)
      .select("n_name", "new_customers", "cum_customers")
      .as[(String, Long, Long)].collect().groupBy(_._1).values
    out.foreach { rows =>
      var run = 0L
      rows.foreach { case (_, nc, cum) =>
        run += nc
        assert(cum == run)
      }
    }
    // total new customers across all nations = customers with orders
    val totNew = Relational6.q68CumDistinct(spark, sf)
      .agg(sum("new_customers")).head.getLong(0)
    val withOrders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(totNew == withOrders)
  }

  test("q69 basket pairs: symmetric support, jaccard bounds, " +
    "hand-planted basket") {
    val out = Relational6.q69BasketPairs(spark, sf)
      .select("n_both", "n_a", "n_b", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (both, a, b, j) =>
      assert(both <= a && both <= b)
      assert(j > 0.0 && j <= 1.0)
      assert(math.abs(j - both.toDouble / (a + b - both)) < 1e-6)
    }
    // planted: two orders sharing {X, Y} → pair support 2, jaccard 1
    val dir = java.nio.file.Files.createTempDirectory("q69").toString
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_extendedprice", lit(1.0))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq((10L, "BrandX"), (20L, "BrandY")).toDF("p_partkey", "p_brand")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    val r = Relational6.q69BasketPairs(spark, dir)
      .select("brand_a", "brand_b", "n_both", "jaccard")
      .as[(String, String, Long, Double)].collect()
    assert(r.toSeq == Seq(("BrandX", "BrandY", 2L, 1.0)))
  }

  test("g17 radius join equals the brute-force distance join") {
    val R = Spatial.RadiusUnits
    val pts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"),
        (col("event_id") * 7919 % 3500000).as("x"),
        (col("event_id") * 104729 % 1600000).as("y"))
    val qs = pts.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("qid"), col("x").as("qx"),
        col("y").as("qy"))
    val pois = pts.filter(col("event_id") % 97 =!= 0)
    val brute = qs.crossJoin(pois)
      .withColumn("d2", (col("qx") - col("x")) * (col("qx") - col("x"))
        + (col("qy") - col("y")) * (col("qy") - col("y")))
      .filter(col("d2") <= R * R)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), min("d2").as("m"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val got = Spatial.g17RadiusJoin(spark, sf)
      .as[(Long, Long, Option[Long])].collect()
    assert(got.nonEmpty)
    got.foreach { case (qid, n, m) =>
      brute.get(qid) match {
        case Some((bn, bm)) => assert(n == bn && m.contains(bm))
        case None => assert(n == 0L && m.isEmpty)
      }
    }
    assert(got.map(_._1).toSet ==
      qs.select("qid").as[Long].collect().toSet)
  }

  test("d51 knn label: prediction is the majority of d66 neighbors " +
    "(re-based r10 onto the measured-best graph)") {
    val knn = Similarity.d66CellKnn(spark, sf)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val expected = knn.groupBy(_._1).map { case (v, nbrs) =>
      val votes = nbrs.map(n => labels(n._2))
        .groupBy(identity).map { case (l, o) => (l, o.size) }
      v -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
    }
    val got = Similarity.d51KnnLabel(spark, sf)
      .select("vec_id", "pred_label", "n_votes", "true_label",
        "correct")
      .as[(Long, Int, Long, Int, Long)].collect()
    assert(got.nonEmpty && got.length == expected.size)
    got.foreach { case (v, pred, nv, tl, c) =>
      val (el, ec) = expected(v)
      assert(pred == el && nv == ec.toLong)
      assert(tl == labels(v))
      assert(c == (if (pred == tl) 1L else 0L))
    }
  }

  test("d55 wide banding: candidates are a subset of d49's, degree " +
    "bounded, signatures agree on a 16-bit half") {
    val sigs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        Similarity.portableLshSignature(col("embedding")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val wide = Similarity.d55KnnGraphWide(spark, sf)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    val densePairs = Similarity.d49KnnGraph(spark, sf)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect().toSet
    wide.foreach { case (v, n) =>
      val (a, b) = (sigs(v), sigs(n))
      val agrees = (0 until 2).exists(h =>
        ((a >> (h * 16)) & 0xffffL) == ((b >> (h * 16)) & 0xffffL))
      assert(agrees, s"edge ($v,$n) without a 16-bit collision")
    }
    // degree bound
    wide.groupBy(_._1).foreach { case (_, es) =>
      assert(es.length <= Similarity.KnnK)
    }
    // wide finds strictly fewer (or equal) edges than dense banding
    assert(wide.length <= densePairs.size)
  }

  test("d59 multi-probe banding: every edge within Hamming-1 on the " +
    "20-bit band, degree bounded, recall >= d55 on the exact top-1") {
    val mask = (1L << Similarity.MpBits) - 1
    val sigs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        Similarity.portableLshSignature(col("embedding")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val mp = Similarity.d59KnnMultiProbe(spark, sf)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    // banding contract: an edge exists only where the 20-bit bands
    // differ in at most one bit (exact bucket or one probe flip)
    mp.foreach { case (v, n) =>
      val d = java.lang.Long.bitCount((sigs(v) & mask) ^ (sigs(n) & mask))
      assert(d <= 1, s"edge ($v,$n) at band Hamming distance $d")
    }
    mp.groupBy(_._1).foreach { case (_, es) =>
      assert(es.length <= Similarity.KnnK)
    }
    // the d42 audit shape, extended to the new banding: of the EXACT
    // top-1 neighbor edges (brute force at spec scale), multi-probe
    // at 21/2^20 must propose at least as many as d55's 2×16-bit
    // exact banding — the measured form of the p^20+20p^19(1-p) vs
    // 1-(1-p^16)^2 recall claim
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    val top1 = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("nbr_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding"))
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "nbr_id").as[(Long, Long)].collect()
    def proposes(v: Long, n: Long, bands: (Long, Long) => Boolean) =
      bands(sigs(v), sigs(n))
    val mpHit = top1.count { case (v, n) => proposes(v, n, (a, b) =>
      java.lang.Long.bitCount((a & mask) ^ (b & mask)) <= 1) }
    val wideHit = top1.count { case (v, n) => proposes(v, n, (a, b) =>
      (0 until Similarity.WideTables).exists(h =>
        ((a >> (h * Similarity.WideBits)) & 0xffffL) ==
          ((b >> (h * Similarity.WideBits)) & 0xffffL))) }
    assert(mpHit >= wideHit,
      s"multi-probe recall regressed: $mpHit vs d55 $wideHit " +
        s"of ${top1.length} exact top-1 edges")
  }

  test("d52 chunks: geometry covers every token exactly w/ overlap") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    val chunks = Retrieval.d52DocChunks(spark, sf)
      .select("doc_id", "chunk_idx", "start_tok", "n_toks")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (d, cs) =>
      val n = docs(d)
      val sorted = cs.sortBy(_._2)
      // ordinals are 0..m-1, starts advance by the stride
      sorted.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx == i && start == i.toLong * Retrieval.ChunkS)
        assert(len == math.min(Retrieval.ChunkW, n - start))
        assert(len >= 1)
      }
      // last chunk reaches the end of the document
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen == n.toLong)
    }
  }

  test("g18 point-in-polygon matches a driver-side ray cast") {
    val dir = java.nio.file.Files.createTempDirectory("g18").toString
    // polygon 500 (500 % 500 == 0, ≤ cap): square at patch offsets
    // (1,1)..(38,38) — offsets chosen so no derived point lands ON
    // an edge; polygon 1000: degenerate 2-vertex ring → filtered (<3)
    Seq((500L, 1, 1L, 1L), (500L, 2, 38L, 1L),
        (500L, 3, 38L, 38L), (500L, 4, 1L, 38L),
        (1000L, 1, 0L, 0L), (1000L, 2, 25L, 25L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val ids = (1L to 5000L)
    ids.map(i => (i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_id", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    // driver-side oracle: same derivation, simple containment test
    // (strict interior vs the square; the operator's half-open rule
    // agrees with it for points not ON an edge)
    val (loX, hiX) = (500L * 7919 % 947 + 1, 500L * 7919 % 947 + 38)
    val (loY, hiY) =
      (500L * 104729 % 941 + 1, 500L * 104729 % 941 + 38)
    def pt(i: Long) = (i * 7919 % 997, i * 104729 % 991)
    val expectedInside = ids.count { i =>
      val (px, py) = pt(i)
      px > loX && px < hiX && py > loY && py < hiY
    }
    val onEdge = ids.count { i =>
      val (px, py) = pt(i)
      (px == loX || px == hiX) && py >= loY && py <= hiY ||
        (py == loY || py == hiY) && px >= loX && px <= hiX
    }
    assert(onEdge == 0, "planted ids must avoid edge ambiguity")
    assert(expectedInside > 0, "the square must contain some points")
    val got = graft.operators.Spatial.g18PointInPolygon(spark, dir)
      .select("l_orderkey", "n_vertices", "n_inside")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((500L, 4L, expectedInside.toLong)))
  }

  test("d54 incremental dedup classifies planted base/delta dups") {
    val dir = java.nio.file.Files.createTempDirectory("d54").toString
    // base: 1,2,3 (text a,b,c). delta: 10 (=a → dup_of_base 1),
    // 20 (d → new), 30 (d → dup_in_delta of 20), 40 (e → new)
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "a"), (20L, "d"),
        (30L, "d"), (40L, "e"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = Dedup.d54IncrementalDedup(spark, dir)
      .select("doc_id", "status", "base_doc")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((10L, "dup_of_base", Some(1L)),
      (20L, "new", None), (30L, "dup_in_delta", None),
      (40L, "new", None)))
    // real data: every delta doc is classified, statuses exhaustive
    val real = Dedup.d54IncrementalDedup(spark, sf)
    val nDelta = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0).count()
    assert(real.count() == nDelta)
    assert(real.filter(!col("status").isin(
      "new", "dup_of_base", "dup_in_delta")).count() == 0)
  }

  test("t30 observed metrics equal a dedicated audit pass") {
    val got = graft.operators.Observability.t30ObservedAudit(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val direct = (
      docs.count(),
      docs.filter(length(col("text")) === 0).count(),
      docs.filter(col("n_chars") < 100).count(),
      docs.agg(sum("n_chars")).head.getLong(0),
      docs.select(md5(col("text").cast("binary"))).distinct().count())
    assert(got == direct)
  }

  test("s15 streaming observe: per-batch counters equal what the " +
    "gate saw") {
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double)]
    val gated = EventStreams.observedIngestGate(
      input.toDS().toDF("event_id", "value"))
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("s15_sink").start()
    try {
      // batch 1: 4 rows, 1 negative; batch 2: 3 rows, 2 negative
      input.addData(Seq((1L, 1.0), (2L, -1.0), (3L, 2.0), (4L, 3.0)))
      q.processAllAvailable()
      input.addData(Seq((5L, -5.0), (6L, 4.0), (7L, -0.5)))
      q.processAllAvailable()
      val audits = q.recentProgress.toSeq
        .flatMap(p => Option(
          p.observedMetrics.get(EventStreams.IngestAuditMetric)))
      val rows = audits.map(_.getAs[Long]("n_rows")).sum
      val rejected = audits.map(_.getAs[Long]("n_rejected")).sum
      assert(rows == 7L && rejected == 3L)
      assert(spark.table("s15_sink").count() == 4L)
    } finally q.stop()
  }

  test("q72 transitions: hand-planted chain counts and shares") {
    val dir = java.nio.file.Files.createTempDirectory("q72").toString
    // user 1: a→b→a→c ; user 2: b→a  ⇒ a→b:1 a→c:1 b→a:2
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "a"), (4L, 1L, "c"),
        (5L, 2L, "b"), (6L, 2L, "a"))
      .map { case (e, u, t) =>
        (e, u, t, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$e"))
      }
      .toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = Relational6.q72Transitions(spark, dir)
      .select("from_type", "to_type", "n", "p")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", "b", 1L, 0.5), ("a", "c", 1L, 0.5),
      ("b", "a", 2L, 1.0)))
    // real data: shares sum to 1 within every from_type
    val sums = Relational6.q72Transitions(spark, sf)
      .groupBy("from_type").agg(sum("p").as("s"))
      .as[(String, Double)].collect()
    sums.foreach { case (_, s1) => assert(math.abs(s1 - 1.0) < 1e-4) }
  }

  test("d56 persisted index: equals d54, lands manifest-committed, " +
    "and a committed index is REUSED, not rewritten") {
    val idx = Dedup.FingerprintIndex.path(sf)
    def rmIdx(): Unit = {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(idx))
    }
    rmIdx() // force the BUILD arm
    try {
      val a = Dedup.d54IncrementalDedup(spark, sf)
        .collect().map(_.toString).sorted
      val b = Dedup.d56PersistedIndex(spark, sf)
        .collect().map(_.toString).sorted
      assert(a.nonEmpty && a.sameElements(b))
      // the index went through the atomic commit (whose orphan/marker/
      // size contracts InterchangeSpec pins for every committed write)
      val marker = new java.io.File(idx, "_GRAFT_COMMIT")
      assert(marker.exists())
      assert(new java.io.File(idx, "_graft_manifest").exists())
      // REUSE arm: a second invocation must read the committed index
      // without rewriting it (marker mtime unchanged) and still match
      val mtime = marker.lastModified()
      val c = Dedup.d56PersistedIndex(spark, sf)
        .collect().map(_.toString).sorted
      assert(c.sameElements(a))
      assert(marker.lastModified() == mtime,
        "committed index was rewritten — the reuse arm never ran")
    } finally rmIdx() // don't leak tmp dirs across runs (ADVICE r8)
  }

  test("d56 index dir is collision-free and the index invalidates " +
    "when the corpus at the same path changes (ADVICE r9)") {
    // digest keying: paths the old sanitizer aliased now differ
    assert(Dedup.FingerprintIndex.path("/tmp/a/b") !=
      Dedup.FingerprintIndex.path("/tmp/a_b"))
    val dir = java.nio.file.Files.createTempDirectory("d56inv").toString
    val idx = Dedup.FingerprintIndex.path(dir)
    def rmAll(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(path))
    }
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // base docs 1,2 ("aa","bb"); delta doc 10 ("aa") → dup_of_base 1
      write(Seq((1L, "aa"), (2L, "bb"), (10L, "aa")))
      val a = Dedup.d56PersistedIndex(spark, dir)
        .select(col("doc_id"), col("status")).as[(Long, String)].collect()
      assert(a.toSeq == Seq((10L, "dup_of_base")))
      // corpus REGENERATED at the same path: base "aa" disappears.
      // A path-identity index would still serve the stale mapping;
      // the fingerprint must force a rebuild → doc 10 is now "new".
      write(Seq((1L, "zz"), (2L, "bb"), (10L, "aa")))
      val b = Dedup.d56PersistedIndex(spark, dir)
        .select(col("doc_id"), col("status")).as[(Long, String)].collect()
      assert(b.toSeq == Seq((10L, "new")),
        s"stale index served after corpus change: ${b.mkString(",")}")
    } finally { rmAll(dir); rmAll(idx) }
  }

  test("s16 streamed transitions equal the batch q72 pair counts") {
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"))
      .as[EventStreams.TypedEvent].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.TypedEvent]
    val q = EventStreams.transitionStream(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("s16_sink").start()
    try {
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val streamed = spark.table("s16_sink")
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val batch = Relational6.q72Transitions(spark, sf)
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q73 band join equals the direct theta join") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cb"))
    val s = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("sb"))
    val direct = c.crossJoin(s)
      .filter(abs(col("cb") - col("sb")) <= Relational6.BandEps)
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n"), min(abs(col("cb") - col("sb"))).as("m"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val got = Relational6.q73BandJoin(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && got.length == direct.size)
    got.foreach { case (k, n, m) => assert(direct(k) == ((n, m))) }
  }

  test("d57 KS: identical halves give 0, disjoint halves give 1, " +
    "real data in [0,1]") {
    val dir = java.nio.file.Files.createTempDirectory("d57").toString
    // source A: base and delta share the SAME length profile → ks 0
    // source B: base all length 10, delta all length 99 → ks 1
    // delta membership is doc_id % 7 == 0
    val rows = Seq(
      (1L, "A", 5L), (2L, "A", 6L), (3L, "A", 7L), (4L, "A", 8L),
      (7L, "A", 5L), (14L, "A", 6L), (21L, "A", 7L), (28L, "A", 8L),
      (101L, "B", 10L), (102L, "B", 10L),
      (105L, "B", 99L), (112L, "B", 99L))
    rows.toDF("doc_id", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = Sampling.d57DriftKs(spark, dir)
      .select("source", "ks").as[(String, Double)].collect().toMap
    assert(got("A") == 0.0)
    assert(got("B") == 1.0)
    val real = Sampling.d57DriftKs(spark, sf)
      .select("ks").as[Double].collect()
    assert(real.nonEmpty && real.forall(k => k >= 0.0 && k <= 1.0))
  }

  test("g19 pyramid: per-level mass conserved, parents sum children") {
    val out = Spatial.g19TilePyramid(spark, sf)
      .as[(Int, Long, Long, Long)].collect()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    val byLevel = out.groupBy(_._1)
    assert(byLevel.keySet == Set(8, 9, 10))
    byLevel.values.foreach(rows => assert(rows.map(_._4).sum == total))
    // every level-9 parent equals the sum of its ≤4 level-10 children
    val l10 = byLevel(10).map(r => (r._2, r._3) -> r._4).toMap
    byLevel(9).foreach { case (_, px, py, n) =>
      val kids = (for { dx <- 0 to 1; dy <- 0 to 1 }
        yield l10.getOrElse((px * 2 + dx, py * 2 + dy), 0L)).sum
      assert(kids == n)
    }
  }

  test("q74 percentile bands agree with Spark's percentile " +
    "(exactly at dyadic p, to float error at p90)") {
    val got = Relational6.q74PercentileScale(spark, sf)
      .select("l_returnflag", "p25_cents", "p50_cents", "p90_cents")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val ref = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("pc"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(pc, 0.25D)").as("p25"),
        expr("percentile(pc, 0.5D)").as("p50"),
        expr("percentile(pc, 0.9D)").as("p90"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.nonEmpty && got.keySet == ref.keySet)
    got.foreach { case (k, (a25, a50, a90)) =>
      val (b25, b50, b90) = ref(k)
      // 0.25 and 0.5 are dyadic: Spark's float rank math is exact
      assert(a25 == b25 && a50 == b50)
      // 0.9 is not: Spark rounds 0.9*(n-1); allow relative 1e-9
      assert(math.abs(a90 - b90) <= 1e-9 * math.max(1.0, math.abs(b90)))
    }
  }

  test("d58 calibration: deciles partition the corpus, rates bounded, " +
    "dup mass conserved") {
    val out = Dedup.d58QualityCalibration(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (d, nd, dup, rate) =>
      assert(d >= 1 && d <= 10)
      assert(dup <= nd)
      assert(math.abs(rate - dup.toDouble / nd) < 1e-6)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
    assert(out.map(_._2).sum == docs.count())
    // total docs-in-duplicated-groups matches a direct count
    val directDup = docs
      .select(md5(col("text").cast("binary")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nc"))
      .filter(col("nc") > 1)
      .agg(coalesce(sum("nc"), lit(0L))).head.getLong(0)
    assert(out.map(_._3).sum == directDup)
  }

  test("q70 drawdown: hand-planted peak-to-trough") {
    val dir = java.nio.file.Files.createTempDirectory("q70").toString
    // supplier 1: +10, +5 (peak 15), -12 (cum 3, dd 12), +4 (cum 7,
    // peak stays 15, dd 8) → max drawdown 12, peak 15
    Seq((1L, "1995-01-01", 10L, "N"), (1L, "1995-01-02", 5L, "N"),
        (1L, "1995-01-03", 12L, "R"), (1L, "1995-01-04", 4L, "N"))
      .toDF("l_suppkey", "ship", "q", "l_returnflag")
      .select(col("l_suppkey"),
        col("ship").cast("timestamp").as("l_shipdate"),
        col("q").cast("double").as("l_quantity"), col("l_returnflag"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val r = Relational6.q70Drawdown(spark, dir)
      .select("l_suppkey", "n_days", "max_drawdown", "peak_level")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 4L, 12L, 15L)))
    // invariant on real data: drawdown is never negative
    val bad = Relational6.q70Drawdown(spark, sf)
      .filter(col("max_drawdown") < 0).count()
    assert(bad == 0)
  }

  test("q71 histogram median/MAD equals q63's percentile-buffer form " +
    "exactly") {
    // both interpolate the two middle ranks of integer cents; every
    // intermediate is exactly representable, so equality is bitwise
    val a = graft.operators.Relational4.q63RobustStats(spark, sf)
      .select("l_returnflag", "n", "median_c", "mad_c")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)
    val b = Relational6.q71MedianHistogram(spark, sf)
      .select("l_returnflag", "n", "median_c", "mad_c")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq)
  }

  test("d53 quota: allocations sum exactly to the budget and " +
    "differ from floors by at most one") {
    val out = Sampling.d53QuotaAlloc(spark, sf)
      .select("n_docs", "floor_share", "alloc")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._3).sum == Sampling.QuotaSlots)
    out.foreach { case (_, fs, al) => assert(al == fs || al == fs + 1) }
    // proportionality: alloc within 1 slot of the exact share
    val total = out.map(_._1).sum.toDouble
    out.foreach { case (n, _, al) =>
      assert(math.abs(al - Sampling.QuotaSlots * n / total) <= 1.0)
    }
  }

  test("f09 codec matrix: digests identical per codec, zstd smallest") {
    val rows = Interchange.f09CodecMatrix(spark, sf)
      .collect().map(r => (r.getString(0),
        r.toSeq.drop(1).map(String.valueOf).mkString("|")))
    val byCodec = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byCodec.keySet == Interchange.Codecs.toSet)
    assert(byCodec("none") == byCodec("snappy"))
    assert(byCodec("snappy") == byCodec("zstd"))
    val Seq(n, sn, z) = Interchange.Codecs
      .map(c => Interchange.codecDirBytes(sf, c))
    assert(z > 0 && sn > 0 && n > 0)
    // the LOSSLESS digest equality above is the strict contract; the
    // size ordering is advisory — corpus- and parquet-version-
    // dependent (tiny or incompressible data can invert it), so it is
    // only pinned once the corpus is big enough for compression to
    // have signal, and zstd is allowed to tie snappy (ADVICE r8).
    if (n > (1L << 20))
      assert(z <= sn && sn < n,
        s"size ordering violated: zstd=$z snappy=$sn none=$n")
  }

  test("f08 schema evolution: legacy rows carry NULLs, evolved rows " +
    "keep their values") {
    val got = Interchange.f08SchemaEvolution(spark, sf)
      .select("n_docs", "n_evolved", "sum_chars")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val (nd, ne, sc) = got.reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(nd == docs.count())
    assert(ne == docs.filter(col("doc_id") % 2 === 1).count())
    val expChars = docs.filter(col("doc_id") % 2 === 1)
      .agg(sum("n_chars")).head.getLong(0)
    assert(sc == expChars)
  }
}
