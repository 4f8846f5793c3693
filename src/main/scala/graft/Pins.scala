package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of pinned intermediates: eager local checkpoints,
  * persisted relations, and the per-session memos built from them.
  * Operators pin here instead of calling `localCheckpoint`/`persist`
  * themselves, so a harness frees every pin with one [[release]]
  * between queries or reps.
  *
  * A pin that a returned DataFrame may still read stays registered
  * until [[release]]; a pin the operator has consumed itself (an
  * iteration's previous round, a checkpoint its writes are done with)
  * is freed at once with [[unpin]]. Thread-safe: queries on one
  * session may pin from several threads at once. */
object Pins {

  /** Live pins in pin order: the handle an operator holds and the
    * action that frees its blocks. */
  private val pinned = ArrayBuffer.empty[(AnyRef, () => Unit)]

  /** Memoized values keyed by (session, key): a new session never
    * reuses a pin built under an earlier one. */
  private val memos = TrieMap.empty[(SparkSession, Any), Any]

  /** Eager `localCheckpoint`: materializes `df` and truncates its
    * lineage. The blocks live outside the CacheManager — the
    * checkpoint's plan is a LogicalRDD over exactly the RDD that holds
    * them — so `Dataset.unpersist()` cannot free them; the registered
    * free unpersists that RDD. */
  def checkpoint(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint()
    val rdd = p.queryExecution.analyzed match { case lr: LogicalRDD => lr.rdd }
    add(p)(rdd.unpersist(blocking = false))
  }

  /** `ds.persist(level)`, freed by `ds.unpersist()`. */
  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    add(ds.persist(level))(ds.unpersist())

  /** `rdd.persist(level)`, freed by `rdd.unpersist()`. */
  def persist[T](rdd: RDD[T], level: StorageLevel): RDD[T] =
    add(rdd.persist(level))(rdd.unpersist(blocking = false))

  /** `build` once per (session, key) until the next [[release]]. */
  def memo[T](spark: SparkSession, key: Any)(build: => T): T =
    memos.getOrElseUpdate((spark, key), build).asInstanceOf[T]

  /** Frees one pin (a Dataset or RDD) now. Only for a pin nothing lazy
    * still reads. */
  def unpin(p: AnyRef): Unit = {
    val free = pinned.synchronized {
      val i = pinned.indexWhere(_._1 eq p)
      if (i < 0) None else Some(pinned.remove(i)._2)
    }
    free.foreach(_())
  }

  /** Frees every pin and forgets every memo. Call it once the results
    * that read them are materialized. */
  def release(): Unit = {
    val all = pinned.synchronized {
      val a = pinned.toList
      pinned.clear()
      a
    }
    memos.clear()
    all.foreach(_._2())
  }

  private def add[P <: AnyRef](p: P)(free: => Unit): P = {
    pinned.synchronized { pinned += (p -> (() => free)) }
    p
  }
}
