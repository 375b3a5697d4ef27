package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the index of the enclosing span, -1 for an
  * op's root span. Times are `System.nanoTime`. */
final case class Span(name: String, op: Int, parent: Int,
    startNs: Long, var endNs: Long)

/** Spans around the calls an op makes into the engine's public functions.
  * Disabled, `span` only runs its body, so the traced and untraced runs
  * issue the same calls. Spans stay in memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val i = spans.size
      spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = i :: stack
      try body
      finally { spans(i).endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time of each span name, summed over the spans of op `opId`:
    * a span's duration minus the durations of its direct children. */
  def selfTimes(opId: Int): Map[String, Double] = {
    val mine = spans.indices.filter(i => spans(i).op == opId)
    val child = mine.groupBy(i => spans(i).parent).map { case (p, cs) =>
      p -> cs.map(c => spans(c).endNs - spans(c).startNs).sum }
    mine.map { i =>
      val s = spans(i)
      s.name -> (s.endNs - s.startNs - child.getOrElse(i, 0L)) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Task, stage and job counters from Spark's public listener API. Fields are
  * written on the listener-bus thread and read after [[org.apache.spark.PerfbenchBus.drain]]. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  @volatile var stages, tasks, taskCpuNs, runMs, shuffleW, shuffleR, scanBytes,
    spill, gcMs, peakExec, exchanges = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** (start, end) wall ms of every finished job; not cleared by [[reset]]. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized {
    stages = 0; tasks = 0; taskCpuNs = 0; runMs = 0; shuffleW = 0; shuffleR = 0
    scanBytes = 0; spill = 0; gcMs = 0; peakExec = 0; exchanges = 0
    countedCaches.clear()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      scanBytes += m.inputMetrics.bytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      peakExec = math.max(peakExec, m.peakExecutionMemory)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  /** Caches whose plan's exchanges were already counted since [[reset]]. */
  private val countedCaches =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { exchanges += ExchangeCount(qe.executedPlan, countedCaches) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wall ms inside [fromMs, toMs] during which at least one job ran. */
  def jobBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobSpans.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** Exchanges in a finished query's final (adaptive) physical plan,
  * including the plan of each cache it scans the first time that cache is
  * seen: a persisted frame runs its exchanges when its first action builds
  * it, and that action's own plan shows only the cache scan. */
object ExchangeCount extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan, seen: java.util.Set[AnyRef]): Long =
    collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike => 1L
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        apply(m.relation.cachedPlan, seen)
    }.sum
}

/** Per-trigger progress and restart timings from the public
  * StreamingQueryListener. A start of a query id seen before is a resume
  * from its checkpoint. `onQueryStarted` runs synchronously in `start()`,
  * so its clock reading is the resume call. */
final class StreamStats extends StreamingQueryListener {
  import StreamingQueryListener._
  val phases = scala.collection.mutable.Map.empty[String, Long]
  val triggerMs = ArrayBuffer.empty[Long]
  val recoveryMs = ArrayBuffer.empty[Double]
  val restartGapMs = ArrayBuffer.empty[Double]
  var triggers, stateCommitMs, stateRows = 0L
  private val seen = scala.collection.mutable.Set.empty[java.util.UUID]
  private val resumedAt = scala.collection.mutable.Map.empty[java.util.UUID, Double]
  private val lastCommit = scala.collection.mutable.Map.empty[java.util.UUID, Double]

  /** Epoch ms with sub-ms digits, anchored once to the wall clock. */
  private val (anchorMs, anchorNs) = (System.currentTimeMillis().toDouble, System.nanoTime())
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def reset(): Unit = synchronized {
    phases.clear(); triggerMs.clear(); recoveryMs.clear(); restartGapMs.clear()
    triggers = 0; stateCommitMs = 0; stateRows = 0
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    val t = nowMs
    if (seen(e.id)) {
      resumedAt(e.runId) = t
      lastCommit.get(e.id).foreach(c => restartGapMs += t - c)
    }
    seen += e.id
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    if (d.containsKey("addBatch")) {
      triggers += 1
      d.forEach((k, v) => phases(k) = phases.getOrElse(k, 0L) + v)
      val trig = d.get("triggerExecution").longValue
      triggerMs += trig
      p.stateOperators.foreach { s => stateCommitMs += s.commitTimeMs; stateRows += s.numRowsTotal }
      val commit = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + trig
      lastCommit(p.id) = commit
      resumedAt.remove(p.runId).foreach(r => recoveryMs += commit - r)
    }
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
