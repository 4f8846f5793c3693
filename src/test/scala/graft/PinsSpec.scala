package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** [[Pins]] is the one owner of pinned intermediates: what it frees
  * must really be freed, a memo must never outlive its session, and
  * no operator may pin around it. */
class PinsSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

  /** Every registered query whose code reaches Pins: grep `Pins\.`
    * in src/main, then follow each pinning operator (and
    * `Dedup.connectedComponents`, `Bpe.trainMerges`, the beam walks)
    * up to the keys that call it. */
  val PinningKeys: Seq[String] = Seq(
    "d02_minhash_lsh", "d07_dedup_clusters", "d12_embed_neardup_lsh",
    "d14_clusters_scale", "d15_embed_clusters_scale", "d20_dedup_corpus",
    "d21_pipeline_e2e", "d24_edit_distance", "d29_residual_pq",
    "d32_pagerank", "d36_hits", "d37_containment",
    "d40_cluster_histogram", "d43_bpe_merges", "d46_quality_keeper",
    "d47_residual_rerank", "d63_sparse_cosine", "d64_matryoshka_audit",
    "d65_dedup_survivorship", "d72_simhash_blocks", "d74_triangles",
    "d76_setsim_join", "d77_fuzzy_decontam", "d84_graph_search",
    "d85_oph_densified", "d86_hnsw_search", "d90_mmr_rerank",
    "d92_dsir", "d93_winnowing", "d94_nav_insert", "d97_entry_promotion",
    "d100_pc_projection", "g14_fleet_scan", "q58_recursive_chain",
    "q71_median_histogram", "t23_bpe_encode", "t33_bpe_encode64",
    "t34_fertility")

  test("unpin frees a local checkpoint's blocks") {
    val p = Pins.checkpoint(spark.range(0, 1000, 1, 4).toDF("id"))
    val id = p.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    def blocks = spark.sparkContext.getRDDStorageInfo
      .filter(_.id == id).map(_.numCachedPartitions).sum
    assert(blocks == 4, "the checkpoint materialized nothing")
    Pins.unpin(p)
    assert(blocks == 0, "unpin left the checkpoint's blocks cached")
  }

  test("release leaves no persisted RDD behind any pinning key") {
    // compared by id: the ContextCleaner may free an earlier suite's
    // leftovers mid-loop, which a plain count would misread
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val leaks = PinningKeys.flatMap { key =>
      Pins.release()
      val before = persisted
      SparkEntry.queries(key)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      Pins.release()
      (persisted -- before).map(id => s"$key: rdd $id")
    }
    assert(leaks.isEmpty, s"persisted past release(): $leaks")
  }

  test("the graph walks leave no persisted RDD behind, even before " +
    "release") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def run(key: String): Unit = SparkEntry.queries(key)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val leaks = Seq("d84_graph_search", "d86_hnsw_search",
      "d94_nav_insert", "d97_entry_promotion").flatMap { key =>
      // the first call builds the committed indexes; the second only
      // reads them and walks
      run(key)
      Pins.release()
      val before = persisted
      run(key)
      val left = persisted -- before
      Pins.release()
      left.map(id => s"$key: rdd $id")
    }
    assert(leaks.isEmpty, s"persisted after the call returned: $leaks")
  }

  test("memo is keyed by session and forgotten on release") {
    Pins.release()
    val other = spark.newSession()
    assert(Pins.memo(spark, "k")(1) == 1)
    assert(Pins.memo(spark, "k")(2) == 1, "memo rebuilt in one session")
    assert(Pins.memo(other, "k")(3) == 3, "a new session reused a memo")
    Pins.release()
    assert(Pins.memo(spark, "k")(4) == 4, "release kept a memo")
    Pins.release()
  }

  test("no operator calls localCheckpoint around Pins") {
    val offenders = java.nio.file.Files.walk(
        java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Pins.scala")
      .filter(p => new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8").contains("localCheckpoint("))
    assert(offenders.isEmpty,
      s"localCheckpoint( outside Pins.scala (Dataset.unpersist() " +
        s"cannot free it; use Pins.checkpoint): ${offenders.mkString(", ")}")
  }
}
