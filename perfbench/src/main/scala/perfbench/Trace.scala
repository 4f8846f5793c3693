package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are nanoseconds since
  * the recorder was created; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the client thread: spans nest by call
  * order and are only written out when the run ends. */
final class Spans(val runId: String) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = System.nanoTime() - t0
    try body
    finally {
      open = open.tail
      done += Span(id, name, parent, start, System.nanoTime() - t0)
    }
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq

  /** Total seconds of the spans called `name`. */
  def total(name: String): Double =
    done.filter(_.name == name).map(_.seconds).sum

  /** Per span name: summed duration minus the part its children cover. */
  def selfTimes: Map[String, Double] = {
    val childSum = done.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    done.groupBy(_.name).view.mapValues(_.map { s =>
      s.seconds - childSum.getOrElse(s.id, 0.0)
    }.sum).toMap
  }

  def json: String = {
    val spans = all.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "run" -> runId)
    }
    Json.obj("run" -> runId, "spans" -> Json.Raw(spans.mkString("[", ",", "]")),
      "self_s" -> selfTimes)
  }
}

/** Engine counters from the listener bus: jobs, tasks, executor time,
  * GC, spill, shuffle writes, and per-stage task run times for skew. */
final class EngineStats extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleBytes = 0L
  private val stageTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      stageTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  /** The worst stage's max task time over its median task time, among
    * stages of at least two tasks whose median is at least 10 ms. */
  def taskSkew: Double = synchronized {
    val ratios = stageTimes.values.filter(_.size >= 2).flatMap { ts =>
      val s = ts.sorted
      val med = s((s.size - 1) / 2)
      if (med >= 10) Some(s.last.toDouble / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Task CPU time per stage, for a pass's critical-path CPU time: each
  * stage costs the larger of its longest task and its tasks' total
  * spread over `cores`. Unlike the rest of this file it is registered
  * in untraced runs too, one instance per pass. */
final class StageCpu extends SparkListener {
  // (stage, attempt) -> (total, longest task) CPU nanoseconds
  private val stages = mutable.Map.empty[(Int, Int), (Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val ns = m.executorCpuTime + m.executorDeserializeCpuTime
      val k = (e.stageId, e.stageAttemptId)
      val (sum, max) = stages.getOrElse(k, (0L, 0L))
      stages(k) = (sum + ns, math.max(max, ns))
    }
  }

  def criticalNs(cores: Int): Long = synchronized {
    stages.values.map { case (sum, max) => math.max(max, sum / cores) }.sum
  }
}

/** Node counts of every query plan executed while registered, taken
  * from the final adaptive plan (query stages are walked into; a
  * reused exchange counts as no new exchange). */
final class PlanShapes extends QueryExecutionListener {
  val Kinds: Seq[String] =
    Seq("exchanges", "broadcasts", "aggregates", "windows", "generates", "sorts")
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    nodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => counts("exchanges") += 1
      case _: BroadcastExchangeExec => counts("broadcasts") += 1
      case _: BaseAggregateExec => counts("aggregates") += 1
      case _: WindowExec => counts("windows") += 1
      case _: GenerateExec => counts("generates") += 1
      case _: SortExec => counts("sorts") += 1
      case _ => ()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def result: Map[String, Long] = synchronized {
    Kinds.map(k => k -> counts(k)).toMap
  }
}

/** What the traced pass registers, and the pin counts it samples. */
final class Tracer(spark: SparkSession, runId: String) {
  val spans = new Spans(runId)
  val engine = new EngineStats
  val plans = new PlanShapes
  var pinBlocks = 0L
  var pinBytes = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
  }

  def stop(): Unit = {
    Tracer.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
  }

  /** Blocks still persisted now; keeps the largest value seen. */
  def samplePins(): Unit = {
    val info = spark.sparkContext.getRDDStorageInfo
    pinBlocks = math.max(pinBlocks, info.map(_.numCachedPartitions.toLong).sum)
    pinBytes = math.max(pinBytes, info.map(i => i.memSize + i.diskSize).sum)
  }
}

object Tracer {
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerDrain(sc)
}
