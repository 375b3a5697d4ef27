package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SaveIntoDataSourceCommand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{CacheScope, EventTs, TableRegistry}
import graft.jobs.{ChannelJobs, CurationJob, NvsPipeline, NvsStaging}
import graft.operators.Dedup
import graft.sources.{AuditLog, Compaction}
import graft.streaming.EventStreams

/** What a workload shares with the run loop in [[Main]]. `root` is the
  * run's temp root; `in` holds the generated inputs. `drainBus` returns once
  * every listener event posted so far has been delivered. */
final class Ctx(val s: SparkSession, val root: String, val seed: Long, val tr: Tracer,
    val drainBus: () => Unit) {
  val in = s"$root/input"
  val checkDir = s"$root/check"
  /** Mismatches found by the in-JVM output checks. */
  val failures = ArrayBuffer.empty[String]
  /** (catalog query, parquet dir of the engine's rows, digits to round each
    * named column to) for the DuckDB check. DuckDB rounds the engine's rows
    * as the oracle SQL rounds its own, so that equal doubles compare equal:
    * Spark's `round` takes 40.425 (the double 40.4249999...) to 40.43,
    * DuckDB's to 40.42. */
  val oracleChecks = ArrayBuffer.empty[(String, String, Map[String, Int])]
  def fail(msg: String): Unit = failures += msg
}

/** One workload: a closed loop of ops over seeded inputs. */
trait Workload {
  /** Write the seeded inputs into the empty `ctx.in`. Repeated in set-up,
    * which reports the median. */
  def generate(): Unit
  /** Build standing state over the generated inputs, once. */
  def build(): Unit = ()
  /** Untimed preparation of op `i` (e.g. materialize its batch rows). */
  def prepare(i: Int): Unit = ()
  /** Op `i`; returns the input rows it processed. */
  def op(i: Int): Long
  /** Untimed per-op counters read after the op (traced runs only). */
  def afterOp(i: Int): Map[String, Double] = Map.empty
  /** Output checks, after the timed loop; report through `ctx.fail`. */
  def check(ops: Int): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "nvs_job" => new NvsJob(ctx)
    case "llm_ops" => new LlmOps(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Sorted string form of rows, for order-free equality. */
  def canon(rs: Seq[Row]): Seq[String] = rs.map(_.toSeq.mkString("\u0001")).sorted

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
}

/** The Spark actions a session runs, in order, each as its function name and
  * the table directory it writes (or its plan's root node when it writes
  * none). Events arrive on the listener bus: read after `Ctx.drainBus`. */
final class ActionLog extends QueryExecutionListener {
  private val log = ArrayBuffer.empty[String]

  def take(): List[String] = synchronized { val r = log.toList; log.clear(); r }

  private def target(qe: QueryExecution): String = qe.logical match {
    case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
    case c: SaveIntoDataSourceCommand =>
      c.options.get("path").map(new org.apache.hadoop.fs.Path(_).getName).getOrElse(c.nodeName)
    case c: DataWritingCommand => c.nodeName
    case p => p.nodeName
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { log += s"$funcName ${target(qe)}" }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { log += s"$funcName ${target(qe)} failed" }
}

/** The paper's stage-1 lifecycle: one op is one `ChannelJobs.run` over the
  * staging views `NvsStaging.register` derives from the inputs. Untraced,
  * the op calls `ChannelJobs.run` itself. Traced, it makes the calls of
  * ChannelJobs.run (ChannelJobs.scala, `run`), in the same order, each inside
  * its own span; that sequence mirrors `run` and must change with it. The
  * check holds it to `run`: after the timed loop a traced run makes one more
  * op through `ChannelJobs.run`, into an empty output dir as the first op
  * had, and fails unless its Spark actions equal the first op's, in order. */
final class NvsJob(ctx: Ctx) extends Workload {
  import ctx._
  private val out = s"$root/nvs_out"
  private val registry = new TableRegistry(s)
  /** Per op: (tam version, tam rows, digital version, digital rows). */
  private val writes = ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val actions = new ActionLog
  if (tr.enabled) s.listenerManager.register(actions)
  /** The Spark actions of the first traced op. */
  private var tracedActions = List.empty[String]

  def generate(): Unit = Gen.nvs(s, in, seed)

  override def prepare(i: Int): Unit = if (tr.enabled) { drainBus(); actions.take() }

  def op(i: Int): Long = {
    val ws = run(i, tr.enabled, out)
    writes += ((ws(0).version, ws(0).rows, ws(1).version, ws(1).rows))
    Gen.nvsRows.toLong
  }

  private def run(i: Int, traced: Boolean, out: String): Seq[ChannelJobs.TableWrite] = {
    def span[T](name: String)(body: => T): T = if (traced) tr.span(name)(body) else body
    span("jobs.NvsStaging.register")(NvsStaging.register(s, in))
    val cfg = ChannelJobs.JobConfig(outDir = out, batchId = s"b$i")
    val ws =
      if (!traced) ChannelJobs.run(s, cfg, Some(registry))
      else {
        val audit = s"$out/audit_log"
        val start = new java.sql.Timestamp(System.currentTimeMillis()).toString
        span("sources.AuditLog.append")(
          AuditLog.initiated(s, audit, cfg.script, cfg.layer, cfg.batchId, start))
        val tamDf = span("jobs.NvsPipeline.tamCe")(NvsPipeline.tamCe(s))
        val tam = span("jobs.ChannelJobs.materialize_tam")(
          ChannelJobs.materialize(s, tamDf, "tam_nvs", cfg))
        val digDf = span("jobs.NvsPipeline.combined")(NvsPipeline.combined(s))
        val dig = span("jobs.ChannelJobs.materialize_digital")(
          ChannelJobs.materialize(s, digDf, "digital_nvs", cfg))
        Seq("tam_nvs_staging", "digital_nvs_staging").foreach { t =>
          span("core.TableRegistry.register")(registry.register(t, s"$out/$t"))
        }
        val ws = Seq(tam, dig)
        span("sources.AuditLog.append")(AuditLog.completed(s, audit,
          ws.map(w => w.table -> w.rows), cfg.script, cfg.layer, cfg.batchId, start))
        ws
      }
    span("core.CacheScope.drain")(CacheScope.drain())
    ws
  }

  override def afterOp(i: Int): Map[String, Double] = {
    if (tracedActions.isEmpty) tracedActions = actions.take()
    Map("sources.VersionedTable.versions" -> writes.last._1.toDouble)
  }

  /** tam_ce's annual budgets (S1:134-140), which its allocation must
    * distribute exactly. */
  private val budgets = Map("2022" -> 32000000.0, "2023" -> 32000000.0, "2024" -> 36583323.0)

  def check(ops: Int): Unit = {
    if (tr.enabled) {
      drainBus(); actions.take()
      run(0, traced = false, s"$root/nvs_ref")
      drainBus()
      val ref = actions.take()
      if (tracedActions.isEmpty || ref != tracedActions)
        fail("nvs_job: the traced op's Spark actions differ from ChannelJobs.run's; " +
          s"NvsJob.run must mirror it.\n  traced: ${tracedActions.mkString(", ")}" +
          s"\n  run:    ${ref.mkString(", ")}")
    }
    writes.zipWithIndex.foreach { case ((tv, _, dv, _), i) =>
      if (tv != i + 1 || dv != i + 1) fail(s"nvs_job: op $i wrote versions ($tv, $dv), want ${i + 1}")
    }
    def versions(t: String, rowsOf: ((Long, Long, Long, Long)) => Long): DataFrame = {
      val h = s.read.parquet(s"$out/${t}_historical")
      val fp = h.groupBy(col("version").cast("long").as("v"))
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(h.columns.filter(_ != "version").map(col): _*)).as("fp"))
        .orderBy("v").collect()
      val want = writes.map(rowsOf)
      if (fp.map(_.getLong(0)).toSeq != (1L to writes.size.toLong))
        fail(s"nvs_job: $t versions ${fp.map(_.getLong(0)).mkString(",")}, want 1..${writes.size}")
      if (fp.map(_.getLong(1)).toSeq != want)
        fail(s"nvs_job: $t per-version rows differ from the rows each op reported")
      if (fp.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).distinct.length != 1)
        fail(s"nvs_job: $t versions differ in content over identical inputs")
      h.where(col("version") === writes.size)
    }
    val tam = versions("tam_nvs", _._2)
    val dig = versions("digital_nvs", _._4)
    val spent = tam.groupBy(substring(col("year_month").cast("string"), 1, 4))
      .agg(sum("cost")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    if (spent.keySet != budgets.keySet ||
        budgets.exists { case (y, b) => !(math.abs(spent(y) - b) <= 1e-6 * b) })
      fail(s"nvs_job: tam cost per year $spent, budgets $budgets")
    val audit = AuditLog.read(s, s"$out/audit_log")
      .groupBy("log_id_status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (audit != Map("INITIATED" -> writes.size.toLong, "COMPLETED" -> 2L * writes.size))
      fail(s"nvs_job: audit log rows $audit for ${writes.size} runs")
    // the catalog rows' columns of the last written version, for the DuckDB
    // oracle of q161/q168, rounded there as the catalog rounds them
    tam.select("product_brand_name", "source", "year_month", "zip", "audience", "channel",
        "reach", "engage", "cost")
      .write.parquet(s"$checkDir/q161_nvs_tam_ce")
    dig.select("brand", "channel", "audience", "year", "month", "zip_code", "dma", "state",
        "country", "reach", "engage", "cost")
      .write.parquet(s"$checkDir/q168_nvs_combined")
    oracleChecks += (("q161_nvs_tam_ce", s"$checkDir/q161_nvs_tam_ce",
      Map("reach" -> 6, "engage" -> 6, "cost" -> 2)))
    oracleChecks += (("q168_nvs_combined", s"$checkDir/q168_nvs_combined",
      Map("reach" -> 2, "engage" -> 2, "cost" -> 2)))
  }
}

/** The LLM-data operators in one closed loop: one op is one turn of one
  * ingest batch through the standing dedup index, the running-totals and
  * funnel kill-and-resume replays, and one curation run. A turn, not each
  * call, is the op: the calls differ in cost by 3x, and a median over a mix
  * of them jumps between call kinds. */
final class LlmOps(ctx: Ctx) extends Workload {
  private val dedup = new DedupIngest(ctx)
  private val stream = new StreamReplays(ctx)
  private val curation = new Curation(ctx)

  def generate(): Unit = { dedup.generate(); stream.generate(); curation.generate() }

  override def build(): Unit = { dedup.build(); stream.build(); curation.build() }

  override def prepare(i: Int): Unit = dedup.prepare(i)

  def op(i: Int): Long = dedup.op(i) + stream.op() + curation.op()

  override def afterOp(i: Int): Map[String, Double] = dedup.afterOp() ++ curation.afterOp()

  def check(ops: Int): Unit = { dedup.check(ops); stream.check(); curation.check() }
}

/** A standing dedup index under ingest: each turn probes a batch against the
  * index, then appends it (leveled: L0 side tables, folded into the main
  * level every `foldEvery`-th append). Set-up builds the index over the base
  * corpus and appends the first batch unprobed, so the first turn's probe
  * reads main + L0 and its append folds. */
final class DedupIngest(ctx: Ctx) {
  import ctx._
  private val (foldEvery, pending) = (2, 1)
  private val (sigT, bandT) = ("perfbench_dedup_sig", "perfbench_dedup_band")
  private val (shingle, hashes, bands, near) = (3, 32, 16, 0.8)
  private var stream: Gen.DocStream = _
  private var batch: DataFrame = _
  private var appends = 0
  private var lastProbe = (0L, 0L)
  private var textBytes = 0L
  private val found = scala.collection.mutable.Set.empty[(Long, Long, Double)]

  def generate(): Unit = {
    stream = new Gen.DocStream(seed)
    Gen.docsFrame(s, stream.base).coalesce(1).write.parquet(s"$in/base.parquet")
  }

  def build(): Unit = {
    val base = s.read.parquet(s"$in/base.parquet")
    tr.span("operators.Dedup.build")(Dedup.buildDedupIndex(base, "doc_id", "text",
      shingle, hashes, bands, sigT, bandT))
    textBytes = stream.base.map(_._2.length.toLong).sum
    (0 until pending).foreach { j =>
      load(j)
      Dedup.indexAppendLeveled(batch, "doc_id", "text", shingle, hashes, bands,
        sigT, bandT, s"b$j", foldEvery)
      appends += 1
    }
  }

  private def load(j: Int): Unit = {
    val b = stream.batch(j)
    textBytes += b.map(_._2.length.toLong).sum
    batch = Gen.docsFrame(s, b)
  }

  def prepare(i: Int): Unit = load(pending + i)

  def op(i: Int): Long = {
    val pairs = tr.span("operators.Dedup.probe")(Dedup.minhashCandidatesIndexedTables(
      batch, "doc_id", "text", shingle, hashes, bands, sigT, bandT).collect())
    val folds = (appends + 1) % foldEvery == 0
    tr.span(if (folds) "operators.Dedup.fold" else "operators.Dedup.append")(
      Dedup.indexAppendLeveled(batch, "doc_id", "text", shingle, hashes, bands,
        sigT, bandT, s"b${pending + i}", foldEvery))
    tr.span("core.CacheScope.drain")(CacheScope.drain())
    appends += 1
    if (folds == s.catalog.tableExists(sigT + "_l0"))
      throw new IllegalStateException(s"append $appends: fold expected=$folds, L0 says otherwise")
    pairs.foreach(r => found += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
    lastProbe = (pairs.length.toLong, pairs.count(_.getDouble(2) >= near).toLong)
    Gen.dedupBatch.toLong
  }

  def afterOp(): Map[String, Double] = {
    val tables = Seq(sigT, bandT, sigT + "_l0", bandT + "_l0").filter(s.catalog.tableExists)
    val locs = tables.map(t => s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString)
    val (n, good) = lastProbe
    Map(
      "operators.Dedup.candidates" -> n.toDouble,
      "operators.Dedup.candidate_precision" -> (if (n == 0) 1.0 else good.toDouble / n),
      // pending L0 generations the probe saw, before this op's append
      "operators.Dedup.l0_depth" -> ((appends - 1) % foldEvery).toDouble,
      "sources.Compaction.index_files" -> locs.map(Compaction.parquetFileCount(s, _)).sum.toDouble,
      "sources.Compaction.index_bytes_per_input_byte" ->
        locs.map(Compaction.tableBytes(s, _)).sum.toDouble / textBytes)
  }

  def check(ops: Int): Unit = {
    val all = stream.base ++ (0 until pending + ops).flatMap(stream.batch)
    val fresh = Dedup.minhashCandidates(Gen.docsFrame(s, all), "doc_id", "text",
        shingle, hashes, bands)
      // pairs the probes could see: the later doc arrived in a probed batch
      .where(col("id_b") >= Gen.dedupBase + pending * Gen.dedupBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    CacheScope.drain()
    if (fresh != found)
      fail(s"llm_ops: probes found ${found.size} pairs, fresh minhashCandidates " +
        s"${fresh.size} (${(fresh -- found).size} missed, ${(found -- fresh).size} extra)")
  }
}

/** The running-totals and funnel kill-and-resume replays of the checkpointed
  * stream machinery, each over the user slice of its catalog row (q215,
  * q217), whose DuckDB oracle checks the rows. */
final class StreamReplays(ctx: Ctx) {
  import ctx._
  private val fns = Seq(
    ("runningTotalsRestartReplay", "q215_stream_restart_totals", 3, 2),
    ("funnelRestartReplay", "q217_stream_restart_funnel", 5, 1))
  private var inputs: Seq[(DataFrame, Long)] = Nil
  /** Per function: every turn's output schema and rows. */
  private val outs = fns.map(_ => ArrayBuffer.empty[(StructType, Seq[Row])])

  def generate(): Unit = Gen.events(s, in, seed)

  def build(): Unit = {
    val ev = EventStreams.withEventTime(EventTs.toNanos(s.read.parquet(s"$in/events.parquet")))
    inputs = fns.map { case (_, _, m, r) =>
      val df = ev.where(col("user_id") % m === r)
      (df, df.count())
    }
  }

  private def replay(f: Int): DataFrame = f match {
    case 0 => EventStreams.runningTotalsRestartReplay(s, inputs(f)._1, nBatches = 4, killAfter = 2)
    case _ => EventStreams.funnelRestartReplay(s, inputs(f)._1, Seq("signup", "view", "purchase"),
      nBatches = 4, killAfter = 2)
  }

  def op(): Long = fns.indices.map { f =>
    val (df, rows) = tr.span(s"streaming.EventStreams.${fns(f)._1}") {
      val df = replay(f); (df, df.collect().toSeq)
    }
    tr.span("core.CacheScope.drain")(CacheScope.drain())
    outs(f) += ((df.schema, rows))
    inputs(f)._2
  }.sum

  def check(): Unit =
    fns.indices.foreach { f =>
      val (name, query) = (fns(f)._1, fns(f)._2)
      if (outs(f).isEmpty) fail(s"llm_ops: $name never ran")
      else {
        if (outs(f).map(o => Workload.canon(o._2)).distinct.size != 1)
          fail(s"llm_ops: $name replays of the same events differ")
        val (schema, rows) = outs(f).head
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
          .write.parquet(s"$checkDir/$query")
        oracleChecks += ((query, s"$checkDir/$query", Map.empty[String, Int]))
      }
    }
}

/** The curation pipeline end to end: `CurationJob.run` with its default gates
  * over the seeded corpus, shipping to parquet. */
final class Curation(ctx: Ctx) {
  import ctx._
  private val cfg = CurationJob.Config()
  private val out = s"$root/curation_out"
  private var docs: DataFrame = _
  private val stats = ArrayBuffer.empty[CurationJob.Stats]

  def generate(): Unit = Gen.curation(s, in, seed)

  def build(): Unit = docs = s.read.parquet(s"$in/documents.parquet")

  def op(): Long = {
    val (_, st) = tr.span("jobs.CurationJob.run")(CurationJob.run(docs, cfg, outDir = Some(out)))
    tr.span("core.CacheScope.drain")(CacheScope.drain())
    stats += st
    st.input
  }

  def afterOp(): Map[String, Double] = {
    val st = stats.last
    Map("jobs.CurationJob.stage_rows.input" -> st.input.toDouble,
      "jobs.CurationJob.stage_rows.after_quality" -> st.afterQuality.toDouble,
      "jobs.CurationJob.stage_rows.after_exact" -> st.afterExact.toDouble,
      "jobs.CurationJob.stage_rows.after_near_dup" -> st.afterNearDup.toDouble,
      "jobs.CurationJob.stage_rows.chunks" -> st.chunks.toDouble)
  }

  def check(): Unit = {
    if (stats.distinct.size != 1) fail(s"llm_ops: curation Stats differ across runs: ${stats.distinct}")
    val st = stats.head
    val funnel = Seq(st.input, st.afterQuality, st.afterExact, st.afterNearDup)
    if (funnel.zip(funnel.tail).exists { case (a, b) => b > a } || st.afterNearDup == 0)
      fail(s"llm_ops: curation stage counts not a non-increasing funnel: $st")
    if (st.input == st.afterNearDup) fail(s"llm_ops: no curation gate removed anything: $st")
    val survivors = docs.join(s.read.parquet(out).select("doc_id").distinct(), "doc_id")
    val close = Dedup.minhashCandidates(survivors, "doc_id", "text",
        bands = cfg.minhashBands, maxBucketSize = cfg.maxBucketSize)
      .where(col("est_jaccard") >= cfg.nearDupJaccard).count()
    CacheScope.drain()
    if (close != 0) fail(s"llm_ops: $close surviving pairs reach ${cfg.nearDupJaccard}")
  }
}
