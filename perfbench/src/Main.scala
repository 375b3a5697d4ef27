package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.{CacheScope, Sessions}

/** One benchmark run in one JVM: set-up, a timed closed loop with one
  * client, then the output checks. No warmup op runs before the loop, so
  * JIT warmup is part of what the first op measures. Writes
  * `<root>/result.json`; the metrics are computed from it by `run.py`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <root> <cores>
  */
object Main {
  /** Input generation is repeated this many times and reported as a median. */
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, root, coresS) = args
    val cores = coresS.toInt
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val streams = new StreamStats
    spark.streams.addListener(streams)
    val sessionS = since(t0)

    val tr = new Tracer(traceS == "1")
    val bus = () => org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val ctx = new Ctx(spark, root, seedS.toLong, tr, bus)
    val w = Workload(workload, ctx)

    val genS = (1 to setupReps).map { _ =>
      Workload.rm(new java.io.File(ctx.in))
      val t = System.nanoTime()
      w.generate()
      since(t)
    }
    val tb = System.nanoTime()
    w.build()
    CacheScope.drain()
    val buildS = since(tb)
    val indexBuildS = tr.spans.filter(_.name == "operators.Dedup.build")
      .map(s => (s.endNs - s.startNs) / 1e9).sum

    val ops = ArrayBuffer.empty[Map[String, Any]]
    def runOp(i: Int): Map[String, Any] = {
      w.prepare(i)
      tr.op = i
      val ms0 = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try Right(tr.span("op")(w.op(i)))
        catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = since(t)
      val ms1 = System.currentTimeMillis()
      val base = Map[String, Any]("i" -> i, "wall_s" -> wall,
        "rows" -> res.getOrElse(0L), "error" -> res.left.toOption.orNull)
      if (!tr.enabled || res.isLeft) base
      else {
        bus()
        val layers = tr.selfTimes(i).map { case (k, v) => s"${k}_s" -> v } ++
          snapshot(counters) ++ w.afterOp(i) ++ Map(
            "spark.no_job_s" -> math.max(0.0, wall - counters.jobBusyMs(ms0, ms1) / 1e3),
            "jvm.heap_after_gc_mb" -> heapAfterGcMb())
        counters.reset()
        base + ("layers" -> layers)
      }
    }

    bus()
    counters.reset(); counters.jobSpans.clear(); streams.reset()

    val seconds = secondsS.toDouble
    val ts = System.nanoTime()
    var i = 0
    while (since(ts) < seconds) {
      ops += runOp(i)
      i += 1
    }
    val timedS = since(ts)
    bus()

    val stream = streams.synchronized(Map[String, Any](
      "trigger_ms" -> streams.triggerMs.toSeq, "recovery_ms" -> streams.recoveryMs.toSeq,
      "restart_gap_ms" -> streams.restartGapMs.toSeq, "triggers" -> streams.triggers,
      "phases_ms" -> streams.phases.toMap, "state_commit_ms" -> streams.stateCommitMs,
      "state_rows" -> streams.stateRows))

    val tc = System.nanoTime()
    try w.check(i)
    catch { case e: Exception => ctx.fail(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    val checkS = since(tc)

    val oracleSql = graft.SparkEntry.oracleSql
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> tr.enabled, "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "build_s" -> buildS,
        "index_build_s" -> indexBuildS),
      "ops" -> ops.toSeq, "timed_wall_s" -> timedS, "check_s" -> checkS, "stream" -> stream,
      "failures" -> ctx.failures.toSeq,
      "oracle" -> ctx.oracleChecks.map { case (n, dir, digits) =>
        Map("name" -> n, "sql" -> oracleSql(n), "got" -> dir, "round" -> digits) }.toSeq,
      "input" -> ctx.in,
      "spans" -> tr.spans.map(sp => Map("name" -> sp.name, "op" -> sp.op, "parent" -> sp.parent,
        "start_ns" -> (sp.startNs - t0), "end_ns" -> (sp.endNs - t0))).toSeq)
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "result.json"),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
  }

  private def snapshot(c: SparkCounters): Map[String, Double] = c.synchronized(Map(
    "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
    "spark.task_cpu_s" -> c.taskCpuNs / 1e9, "spark.executor_run_s" -> c.runMs / 1e3,
    "spark.shuffle_write_bytes" -> c.shuffleW.toDouble,
    "spark.shuffle_read_bytes" -> c.shuffleR.toDouble, "spark.scan_bytes" -> c.scanBytes.toDouble,
    "spark.spill_bytes" -> c.spill.toDouble, "spark.jvm_gc_s" -> c.gcMs / 1e3,
    "spark.peak_exec_mb" -> c.peakExec / 1048576.0, "spark.exchanges" -> c.exchanges.toDouble))

  private def heapAfterGcMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

