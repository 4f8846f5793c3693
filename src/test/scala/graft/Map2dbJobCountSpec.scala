package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FdoSink

/** A conversion's fixed job count: 3 to build (the merged relation's
  * stages and the vtag key collect), one for the three feature tables
  * (each task routes its rows to per-(table, level) writers), none for
  * the metadata tables (the driver writes them) and 3 for the SQLite
  * file (one ordered pass over the build's relation). The cap fails if
  * per-table parquet or SQLite passes or job-run metadata writes come
  * back: one write job per feature table ran 9, per-table sinks 21. */
class Map2dbJobCountSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("map2db with both sinks runs at most 7 jobs") {
    val path = MapEncoder.writeToTemp(MapsforgeSpec.testMap)
    val out = java.nio.file.Files.createTempDirectory("graft-jobs")
    val n = jobs {
      FdoSink.map2db(spark, path, out.resolve("db").toString,
        sqliteFile = Some(out.resolve("map.db").toString))
    }
    info(s"$n jobs")
    assert(n <= 7, s"map2db ran $n jobs")
  }
}
