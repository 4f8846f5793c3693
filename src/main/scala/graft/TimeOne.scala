package graft

/** Ad-hoc single-query timer: `runMain graft.TimeOne <key> <dir> [reps]`
  * — one [[Bench.timedNoop]] per rep, one line per rep. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    (1 to reps).foreach { i =>
      val s = Bench.timedNoop(spark, SparkEntry.queries(name), dir)
      println(f"[timeone] $name rep $i: $s%.2f s")
    }
    spark.stop()
  }
}
