package graft

/** Isolated artifact-build timer: one JVM per measurement, WARMED
  * first (the full build pair at sf0.01, untimed) so the timed build
  * pays neither JIT/codegen warmup (a cold JVM adds ~20 s even at
  * sf0.1) nor another scale's accumulated heap (the in-sweep sf1
  * builds read 1.4-2x their warmed-isolated times and two
  * back-to-back r16 sweeps disagreed 129 vs 187 s on the same
  * build). */
object TimeBuild {
  def main(args: Array[String]): Unit = {
    import graft.operators.Similarity.{HnswIndex, NavIndex}
    val which = args(0) // d84 | d86
    val dir = args(1)
    val spark = Sessions.local()
    val warm = "/root/testdata/sf0.01"
    Seq(NavIndex, HnswIndex).foreach { a =>
      a.reset(spark, warm)
      a.ensure(spark, warm)
    }
    System.gc(); Thread.sleep(100)
    val artifact = which match {
      case "d84" => NavIndex
      case "d86" => HnswIndex
    }
    artifact.reset(spark, dir)
    val t0 = System.nanoTime()
    artifact.ensure(spark, dir)
    println(f"[build] $which $dir: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}

/** Drop every persisted index generation and model for a corpus dir
  * ([[graft.operators.Similarity.Artifacts]]) so the next query call
  * rebuilds with the CURRENT code — the bit-identity check after any
  * build-path change (rebuild, re-verify, hashes must not move). */
object ResetIndexes {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.local()
    graft.operators.Similarity.Artifacts.foreach(_.reset(spark, dir))
    println(s"[reset] dropped every persisted index for $dir")
    spark.stop()
  }
}
