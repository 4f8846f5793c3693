package graft

import org.apache.spark.sql.functions._

/** Sparse-corpus scale drill for d76 (round-11 verdict gap #3).
  *
  * d76's committed envelope is honest-quadratic — but only because the
  * synthetic documents corpus SATURATES its shingle vocabulary, making
  * the qualifying OUTPUT itself Θ(N²). The scaladoc's claim that the
  * prefix-filtered join is near-linear on realistic sparse corpora was
  * never measured. This main measures it: a generated low-duplication
  * corpus (per-doc-unique shingles, one planted near-dup twin per 50
  * docs — J(parent, twin) = 35/41 ≈ 0.85 ≥ τ, every other pair
  * disjoint), swept at 1× / 2× / 4×, recording wall time, posting
  * volume, prefix-candidate volume, and qualifying pairs. On this
  * regime every per-shingle document frequency is ≤ 2, so candidates
  * ≈ twins ≈ N/50 and the join is output-bounded LINEAR — the second
  * measured point SURVEY §4 commits next to the Θ(N²) envelope.
  *
  * Run: `sbt "runMain graft.SetSimDrill"` → setsim_sparse.json.
  */
object SetSimDrill {

  val ShinglesPerDoc = 38
  val PlantEvery = 50
  val TwinShared = 35

  /** Deterministic sparse corpus: `n` base docs with disjoint
    * shingle sets, plus n/[[PlantEvery]] twins sharing
    * [[TwinShared]]/38 shingles with their parent. */
  def sparseCorpus(spark: org.apache.spark.sql.SparkSession, n: Long)
      : org.apache.spark.sql.DataFrame = {
    val base = spark.range(n).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(ShinglesPerDoc - 1)),
        j => concat(lit("s"),
          (col("id") * ShinglesPerDoc + j).cast("string"))).as("toks"))
    val twins = spark.range(n / PlantEvery)
      .select((col("id") * PlantEvery).as("parent"),
        (col("id") + n).as("doc_id"))
      .select(col("doc_id"), concat(
        transform(sequence(lit(0), lit(TwinShared - 1)),
          j => concat(lit("s"),
            (col("parent") * ShinglesPerDoc + j).cast("string"))),
        transform(sequence(lit(0),
            lit(ShinglesPerDoc - TwinShared - 1)),
          j => concat(lit("x"),
            (col("doc_id") * 3 + j).cast("string")))).as("toks"))
    base.unionByName(twins)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val sizes = Seq(200000L, 400000L, 800000L)
    val pts = sizes.map { n =>
      // checkpointed, same role as d76's pin: the generated set
      // relation feeds four plan branches — materialize it once
      val docs = Pins.checkpoint(sparseCorpus(spark, n))
      val t0 = System.nanoTime()
      graft.operators.SetSim.setSimJoin(docs)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val postings = docs.select(explode(col("toks"))).count()
      val cands = graft.operators.SetSim.prefixCandidates(docs).count()
      val pairs = graft.operators.SetSim.setSimJoin(docs).count()
      Pins.release()
      val line = f"""{"docs":${n + n / PlantEvery},"postings":$postings,""" +
        s""""prefix_candidates":$cands,"qualifying_pairs":$pairs,""" +
        f""""sec":$sec%.2f}"""
      println(s"  n=$n: $line")
      line
    }
    val json = pts.mkString("""{"regime":"sparse (df<=2)","points":[""",
      ",", s"""],"execution":"full-plan noop, local[${
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("setsim_sparse.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
