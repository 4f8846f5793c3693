package graft

/** Ad-hoc single-query timer: `runMain graft.TimeOne <key> <dir> [reps]`
  * — full-plan noop execution, `Pins.release()` between reps (the
  * ScaleCurve measurement discipline), one line per rep. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    (1 to reps).foreach { i =>
      Pins.release()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
