package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational8, SetSim}

/** Property pins for the round-11 operators beyond their DuckDB
  * oracles: the bloom prune's transparency + effectiveness, nearest
  * as-of tie semantics, and set-sim join losslessness. */
class Relational8Spec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}
  import spark.implicits._

  test("q84 bloom prune returns exactly the unpruned join result") {
    val got = Relational8.q84BloomPrune(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("rev"))
      .orderBy(col("o_orderpriority"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == want)
    assert(got.map(_._2).sum > 0, "build side selected nothing")
  }

  test("q84 bloom filter admits every true match and prunes most " +
    "non-matches (false-positive rate sane at 8 KiB / 3 hashes)") {
    // replicate the in-plan bloom test standalone over distinct keys
    val buildKeys = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("c_acctbal") > 9000)
      .select(col("c_custkey").as("k")).as[Long].collect().toSet
    assert(buildKeys.nonEmpty)
    val probed = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("k")).distinct()
    val bloomHits = {
      val bloom = spark.createDataset(buildKeys.toSeq).toDF("k")
        .select(explode(array((0 until Relational8.BloomHashes).map(i =>
          pmod(xxhash64(lit(i), col("k")),
            lit(Relational8.BloomBits.toLong))): _*)).as("pos"))
        .select(shiftright(col("pos"), 6).as("word"),
          call_function("shiftleft", lit(1L),
            (col("pos") % 64).cast("int")).as("bit"))
        .groupBy(col("word")).agg(expr("bit_or(bit)").as("bits"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("word"), col("bits"))))).as("bloom"))
      val hit = (0 until Relational8.BloomHashes).map { i =>
        val pos = pmod(xxhash64(lit(i), col("k")),
          lit(Relational8.BloomBits.toLong))
        val bit = call_function("shiftleft", lit(1L),
          (pos % 64).cast("int"))
        coalesce(element_at(col("bloom"), shiftright(pos, 6)), lit(0L))
          .bitwiseAND(bit) =!= 0L
      }.reduce(_ && _)
      probed.crossJoin(broadcast(bloom)).filter(hit)
        .select(col("k")).as[Long].collect().toSet
    }
    val trueMatches = probed.as[Long].collect().toSet
      .intersect(buildKeys)
    // lossless for true matches
    assert(trueMatches.subsetOf(bloomHits))
    // and actually selective: survivors are a small superset
    val nProbe = probed.count()
    assert(bloomHits.size < nProbe / 2,
      s"bloom admitted ${bloomHits.size} of $nProbe probe keys")
  }

  test("q85 nearest as-of matches a brute-force nearest with " +
    "backward tie-break") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val views = events.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("view_id"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (u, rs) =>
        u -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq
      }
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, Long, Long)].collect()
    val want = purchases.map { case (pid, u, us) =>
      val vs = views.getOrElse(u, Seq.empty)
      val back = vs.filter(_._1 <= us).lastOption
      val fwd = vs.find(_._1 >= us)
      (back, fwd) match {
        case (Some((bts, bid)), Some((fts, _)))
            if us - bts <= fts - us =>
          (pid, u, Some(bid), Some(us - bts), Some("backward"))
        case (Some((bts, bid)), None) =>
          (pid, u, Some(bid), Some(us - bts), Some("backward"))
        case (_, Some((fts, fid))) =>
          (pid, u, Some(fid), Some(fts - us), Some("forward"))
        case _ => (pid, u, None, None, None)
      }
    }.sortBy(_._1).toSeq
    val got = Relational8.q85AsofNearest(spark, sf)
      .as[(Long, Long, Option[Long], Option[Long], Option[String])]
      .collect().toSeq
    assert(got == want)
    // both directions must actually occur on this corpus
    assert(got.exists(_._5.contains("backward")))
    assert(got.exists(_._5.contains("forward")))
  }

  test("q86 decorrelation equals a literal exists/not-exists replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").cast("string").as("sd"))
      .as[(Long, Long, String)].collect()
    val byOrder = li.groupBy(_._1)
    val cutoff = Relational8.LateCutoff
    val want = byOrder.toSeq.flatMap { case (_, lines) =>
      val supps = lines.map(_._2).distinct
      val lateSupps = lines.filter(_._3 > cutoff).map(_._2).distinct
      if (supps.length > 1 && lateSupps.length == 1) lateSupps else Nil
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Relational8.q86ExistsDecorrelated(spark, sf)
      .select(col("s_suppkey"), col("numwait"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("f11 bucketed join: zero exchanges under the join, result " +
    "equals the plain parquet join, table reused on second call") {
    import graft.sources.Interchange
    val got = Interchange.f11BucketedJoin(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("q"))
      .orderBy(col("o_orderpriority"))
      .as[(String, Long, Double)].collect().toSeq
    assert(got == want)
    // the bare bucketed join (no aggregate above it) plans with NO
    // shuffle exchange: both scans are already co-partitioned by the
    // catalog bucket spec. At spec scale the tables squeeze under the
    // broadcast threshold (which sidesteps bucketing entirely), so
    // pin the merge-join path the layout exists for by disabling it.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      spark.table(Interchange.bucketedName(sf, "lineitem"))
        .join(spark.table(Interchange.bucketedName(sf, "orders")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(key, saved)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    // second call reuses the registered table (no rebuild): the
    // tables must still exist and answer
    val again = Interchange.f11BucketedJoin(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("f11 bucketed layout is durable: a fresh catalog re-registers " +
    "over the committed files WITHOUT rebuilding, still zero-Exchange") {
    import graft.sources.Interchange
    // build (or reuse) via the registered query, then record the data
    // files' identity (name+len+mtime): the cross-process contract is
    // that a second catalog finds the committed layout and never
    // rewrites it
    Interchange.f11BucketedJoin(spark, sf).collect()
    def layoutState(table: String): Seq[(String, Long, Long)] = {
      val name = Interchange.bucketedName(sf, table)
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
        .filter(col("col_name") === "Location")
        .select(col("data_type")).as[String].head
      val root = new org.apache.hadoop.fs.Path(loc)
      val f = root.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val it = f.listFiles(root, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.startsWith("part-"))
          out += ((s.getPath.getName, s.getLen, s.getModificationTime))
      }
      out.result().sortBy(_._1)
    }
    val before =
      layoutState("orders") ++ layoutState("lineitem")
    assert(before.nonEmpty)
    // simulate a fresh process: the in-memory catalog entry vanishes
    // (external table — files stay), then the query re-registers
    Seq("orders", "lineitem").foreach(t => spark.sql(
      s"DROP TABLE ${Interchange.bucketedName(sf, t)}"))
    val got = Interchange.f11BucketedJoin(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    // same files, same sizes, same mtimes — registration, not rebuild
    assert(layoutState("orders") ++ layoutState("lineitem") == before)
    // and the DDL-registered read is still the shuffle-free one
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      spark.table(Interchange.bucketedName(sf, "lineitem"))
        .join(spark.table(Interchange.bucketedName(sf, "orders")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(key, saved)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Bucketed: true"), plan)
  }

  test("d77 fuzzy decontam flags every plant of an eval doc and " +
    "matches a brute-force eval-vs-train Jaccard sweep") {
    import graft.operators.{SetSim, TextAnalysis}
    val docs = graft.operators.Dedup.corpusWithPlants(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) =>
        val ws = t.trim.split(" ", -1)
        val sh =
          if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
          else Set(t.trim)
        id -> sh
      }
    val evalSide = docs.filter(_._1 < TextAnalysis.EvalDocs)
    val trainSide = docs.filter(_._1 >= TextAnalysis.EvalDocs)
    val want = (for {
      (tr, st) <- trainSide
      (ev, se) <- evalSide
      inter = st.intersect(se).size
      uni = st.size + se.size - inter
      if inter * SetSim.DecontamTauDen >= uni * SetSim.DecontamTauNum
    } yield (tr, ev, inter.toLong, uni.toLong,
      inter.toLong * 1000000L / uni)).sortBy(r => (r._1, r._2)).toSeq
    val got = SetSim.d77FuzzyDecontam(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    // every plant of an eval doc (orig_id < EvalDocs, orig_id % 10
    // == 0 per the plant convention) must flag against its original
    val plantPositives = docs.map(_._1).filter(id =>
      id >= 1000000L && (id - 1000000L) < TextAnalysis.EvalDocs)
    assert(plantPositives.nonEmpty)
    plantPositives.foreach { p =>
      assert(got.exists(r => r._1 == p && r._2 == p - 1000000L),
        s"plant $p of eval doc ${p - 1000000L} not flagged")
    }
  }

  test("q87 hll merge: merged sketch equals the one-shot full " +
    "sketch, estimates within 2% of exact") {
    val got = Relational8.q87HllMerge(spark, sf)
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got.nonEmpty)
    // the merge is lossless (merge_consistent reads both sketches
    // through a union); the merged and streamed ESTIMATES may differ,
    // since a union estimates with the composite estimator and a
    // streamed sketch with HIP once past exact mode, so each is held
    // to the same bound against exact instead of to each other
    got.foreach { case (t, _, estMerged, estFull, exact, consistent) =>
      assert(consistent, s"$t: merged sketch != full sketch")
      Seq("merged" -> estMerged, "full" -> estFull).foreach {
        case (what, est) =>
          assert(math.abs(est - exact).toDouble / exact <= 0.02,
            s"$t $what estimate $est vs exact $exact")
      }
    }
  }

  test("d78 sequence packing: every non-final sequence exactly full, " +
    "every doc's spans reassemble it contiguously") {
    import graft.operators.Sampling
    val spans = Sampling.d78SequencePack(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(spans.nonEmpty)
    val l = Sampling.SeqLen
    // per-sequence totals: all == L except the last
    val bySeq = spans.groupBy(_._1).view
      .mapValues(_.map(_._5).sum).toSeq.sortBy(_._1)
    bySeq.dropRight(1).foreach { case (s, tot) =>
      assert(tot == l, s"sequence $s holds $tot tokens")
    }
    assert(bySeq.last._2 <= l && bySeq.last._2 > 0)
    // sequence ids are contiguous from 0
    assert(bySeq.map(_._1) == (0L until bySeq.length.toLong))
    // per-doc reassembly: spans ordered by seq cover [0, n) contiguously
    val nTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val ordered = ss.sortBy(_._1)
      var expect = 0L
      ordered.foreach { case (_, _, docOff, seqOff, len) =>
        assert(docOff == expect, s"doc $doc gap at $docOff")
        assert(len > 0 && seqOff >= 0 && seqOff < l)
        expect += len
      }
      assert(expect == nTokens(doc), s"doc $doc spans $expect tokens")
    }
    // spanning actually happens: some doc crosses a boundary
    assert(spans.groupBy(_._2).exists(_._2.size > 1))
  }

  test("s19 streamed changelog state equals the batch snapshot " +
    "across multi-batch arrival") {
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val changes = EventStreams.asChangelog(
      Tables.load(spark, sf, "events"))
      .as[EventStreams.Change].collect()
      .sortBy(c => (c.ts.getTime, c.event_id))
    val chunks = changes.grouped(
      math.max(1, changes.length / 4 + 1)).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.Change]
    val q = EventStreams.changelogStream(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("s19_sink").start()
    try {
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      // last emitted row per key IS the final state (update mode)
      val streamed = spark.table("s19_sink")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_changes"), col("last_us"),
          col("last_op"), col("value"))).as("last"))
        .select(col("user_id"), col("last.n_changes"),
          col("last.last_op"), col("last.value"), col("last.last_us"))
        .as[(Long, Long, String, Option[Double], Long)]
        .collect().toSeq.sortBy(_._1)
      val batch = EventStreams.s19ChangelogSnapshot(spark, sf)
        .select(col("user_id"), col("n_changes"), col("last_op"),
          col("value"), col("last_us"))
        .as[(Long, Long, String, Option[Double], Long)]
        .collect().toSeq.sortBy(_._1)
      assert(batch.nonEmpty)
      assert(streamed == batch)
      // both tombstoned and live keys must occur
      assert(batch.exists(_._3 == "delete"))
      assert(batch.exists(_._3 == "upsert"))
    } finally q.stop()
  }

  test("t32 per-source KL: integer numerators replay exactly, " +
    "values are non-negative up to grid quantization") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        explode(split(trim(col("text")), " ")).as("term"))
      .as[(String, String)].collect()
    val cst = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap // (source, term) -> count
    val ns = cst.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val ct = cst.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    val n = ct.values.sum
    def lnq(x: Long): Long =
      math.round(math.log(x.toDouble) * 1e6)
    val wantNum = cst.toSeq.map { case ((s, t), c) =>
      s -> c * (lnq(c * n) - lnq(ns(s) * ct(t)))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = graft.operators.TextAnalysis.t32SourceKl(spark, sf)
      .select(col("source"), col("kl_num_micros"), col("kl_nats"))
      .as[(String, Long, Double)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == wantNum)
    got.foreach { case (s, _, kl) =>
      assert(kl >= -1e-5, s"$s negative KL $kl")
    }
    assert(got.exists(_._3 > 0.0), "no source diverges at all")
  }

  test("d76 set-sim join is lossless vs brute-force exact Jaccard " +
    "and its prefix postings are a strict subset of full postings") {
    val docs = graft.operators.Dedup.corpusWithPlants(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) =>
        val ws = t.trim.split(" ", -1)
        val shingles =
          if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
          else Set(t.trim)
        id -> shingles
      }
    val want = (for {
      (a, ta) <- docs
      (b, tb) <- docs if a < b
      inter = ta.intersect(tb).size
      uni = ta.size + tb.size - inter
      if inter * SetSim.TauDen >= uni * SetSim.TauNum
    } yield (a, b, inter.toLong, uni.toLong,
      inter.toLong * 1000000L / uni)).sortBy(r => (r._1, r._2)).toSeq
    val got = SetSim.d76SetSimJoin(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty, "no qualifying pairs — plants missing?")
    // prefix postings strictly fewer than full postings
    val full = docs.map(_._2.size.toLong).sum
    val prefixLen = docs.map { case (_, t) =>
      val s = t.size.toLong
      s - (s * SetSim.TauNum + (SetSim.TauDen - 1)) / SetSim.TauDen + 1
    }.sum
    assert(prefixLen < full / 2,
      s"prefix posting volume $prefixLen not small vs $full")
  }
}
