package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The ANN loops keep their state on the driver between steps, so a
  * walk costs one job per hop and a k-means round one job. These caps
  * fail if a per-iteration checkpoint or re-planned join comes back:
  * the checkpointed forms ran 61 jobs for a search-only d84 call and
  * 16 for a [[Similarity.KmIters]]-round k-means. */
class AnnJobCountSpec extends AnyFunSuite {
  import SparkTestSession.{sf, spark}

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

  test("a search-only d84 call runs at most 20 jobs") {
    Similarity.NavIndex.ensure(spark, sf)
    val n = jobs {
      Similarity.d84GraphSearch(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"$n jobs")
    assert(n <= 20, s"search-only d84 ran $n jobs")
    Pins.release()
  }

  test("kmeansQuantized at KmIters rounds runs at most 5 jobs") {
    val qz = Tables.load(spark, sf, "embeddings").select(col("vec_id"),
      Similarity.quantizeVec(col("embedding")).as("qv"))
    val init = qz.filter(col("vec_id") < Similarity.IvfCells)
      .select(col("vec_id").as("cent_id"), col("qv").as("qc"))
    val n = jobs {
      Similarity.kmeansQuantized(qz, init, Similarity.KmIters).collect()
    }
    info(s"$n jobs")
    assert(n <= 5, s"k-means ran $n jobs")
  }
}
