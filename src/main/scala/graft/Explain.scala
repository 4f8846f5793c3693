package graft

/** Plan-audit utility: print the formatted physical plan of one or
  * more registered queries without executing the plans themselves.
  * Building an ANN key's DataFrame still runs Spark jobs: k-means
  * training ([[graft.operators.Similarity.kmeansGrouped]]) collects
  * each round's sums, and a persisted-index key's
  * `Artifact.ensure` builds its index when none is committed.
  *
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Explain q01_pricing_summary ..."`
  *
  * This is the manual arm of the automated plan gates
  * (RelationalSpec's cartesian sweep, PlanShapeSpec's broadcast and
  * single-partition-window sweeps): the gates catch the known bad
  * shapes; this prints the whole plan for eyeball review of a new
  * operator — pushed filters, pruned schemas, exchange placement,
  * codegen span boundaries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val keys = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    keys.foreach { k =>
      println(s"=== $k ===")
      SparkEntry.queries.get(k) match {
        case Some(fn) => fn(spark, dir).explain("formatted")
        case None => println(s"  (not a registered query)")
      }
    }
    spark.stop()
  }
}
