package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed item of the first pass: the window that events are
  * attributed to. Items run one after another, so an event belongs to
  * the item whose window holds its start time. */
final case class Window(id: Int, name: String, family: String,
    start: Long, end: Long, seconds: Double)

/** Records Spark's own events through its public listener APIs
  * (`SparkListener`, `QueryExecutionListener`, `StreamingQueryListener`)
  * and turns them into per-layer metrics and spans. Events are only
  * buffered while the run goes on; attribution happens after the
  * session stopped, when every queued event has been delivered. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageMeta = new java.util.concurrent.ConcurrentHashMap[Int, StageMeta]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val queries = new ConcurrentLinkedQueue[SqlRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageInfos.foreach { s =>
          stageMeta.putIfAbsent(s.stageId, StageMeta(s.parentIds,
            s.rddInfos.exists(_.scope.exists(_.name == MrShuffle)),
            s.rddInfos.exists(_.callSite.contains("MapReduce.scala"))))
        }
        val sql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
        jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, e.stageIds, sql))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        stages.add(StageRec(s.stageId, s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.peakExecutionMemory, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ns)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (d.contains("addBatch")) batches.add(BatchRec(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d,
          p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.allUpdatesTimeMs).sum,
          p.stateOperators.map(_.allRemovalsTimeMs).sum,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    })
    this
  }

  private def record(qe: QueryExecution, ns: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).filter(_ > 0).minOption
      .getOrElse(System.currentTimeMillis())
    val exchanges = try PlanShape.exchanges(qe.executedPlan) catch { case NonFatal(_) => 0 }
    queries.add(SqlRec(start, ms("analysis"), ms("optimization"), ms("planning"),
      ns / 1e6, exchanges))
  }

  /** Files under the run's scratch dir, by path: when first seen, the
    * largest size seen, and whether it is a checkpoint file (offset,
    * commit, state and source logs, including the temporary checkpoints
    * a stopped query deletes) or a sink file. Sampled every 100 ms while
    * the streaming gates run, and at the end of each gate. */
  private val files = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Boolean)]()
  @volatile private var sampling = false
  def sample(root: java.io.File): Unit = {
    val now = System.currentTimeMillis()
    def walk(f: java.io.File, top: String, ckpt: Boolean): Unit =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) ()
      else if (f.isDirectory) {
        Option(f.listFiles()).toSeq.flatten.foreach { c =>
          val n = c.getName
          walk(c, if (top == null) n else top, ckpt || checkpointDirs(n) ||
            n.startsWith("temporary") || n.contains("ckpt") || n.contains("checkpoint"))
        }
      } else if (top != null && !top.contains("stage")) {
        val size = f.length
        files.merge(f.getPath, (now, size, ckpt || f.getName == "metadata"),
          (a, b) => (a._1, math.max(a._2, b._2), a._3))
      }
    walk(root, null, false)
  }
  def startSampling(root: java.io.File): Unit = {
    sampling = true
    val t = new Thread(() => while (sampling) { sample(root); Thread.sleep(100) })
    t.setDaemon(true)
    t.start()
  }
  def stopSampling(): Unit = sampling = false

  /** Per-layer metrics over the first pass, plus the span list. */
  def summarize(windows: Seq[Window], corpusTokens: Long,
      wordCountItem: Option[Int]): (Seq[(String, Double)], Seq[Span]) = {
    def owner(t: Long): Option[Window] = windows.find(w => t >= w.start && t <= w.end)
    val metrics = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = metrics(k) = metrics.getOrElse(k, 0.0) + v
    def addCount(k: String, v: Long): Unit = add(k, v.toDouble)

    val taskList = tasks.asScala.toSeq.flatMap(t => owner(t.launch).map(_ -> t))
    val stageList = stages.asScala.toSeq.flatMap(s => owner(s.submit).map(_ -> s))
    val jobList = jobs.values.asScala.toSeq.sortBy(_.id).flatMap(j => owner(j.start).map(_ -> j))
    val sqlList = queries.asScala.toSeq.flatMap(q => owner(q.start).map(_ -> q))
    val batchList = batches.asScala.toSeq.flatMap(b => owner(b.ts).map(_ -> b))

    // plan: Catalyst phases and the jobs SQL executions ran
    sqlList.foreach { case (_, q) =>
      add("plan.analysis_ms", q.analysisMs); add("plan.optimization_ms", q.optimizationMs)
      add("plan.planning_ms", q.planningMs); add("plan.exec_ms", q.execMs)
      add("plan.exchanges", q.exchanges)
    }
    val sqlJobs = jobList.filter(_._2.sql)
    val sqlStages = sqlJobs.flatMap(_._2.stageIds).toSet
    add("plan.jobs", sqlJobs.size)
    add("plan.stages", stageList.count(s => sqlStages(s._2.id)))
    add("plan.tasks", taskList.count(t => sqlStages(t._2.stageId)))
    Seq("analysis_ms", "optimization_ms", "planning_ms", "exec_ms", "exchanges")
      .foreach(k => add(s"plan.$k", 0))

    // mr: graft.mr's shuffles are the only repartitionAndSortWithinPartitions
    // in the program. A stage reading one is numbered by how many such
    // shuffles lie upstream (1 reduces and writes shuffle 2, 2 collapses
    // or finalizes); the stages writing shuffle 1 (the map side) are 0,
    // and so are the extra passes `stable` runs over the map output,
    // known by their call site (streaming replaces call sites, which is
    // why the shuffle scope comes first).
    val metas = stageMeta.asScala
    val writers = metas.values.filter(_.readsMr).flatMap(_.parents).toSet
    def isMr(id: Int) = writers(id) || metas.get(id).exists(m => m.readsMr || m.mrCallSite)
    def mrDepth(id: Int): Int = metas.get(id) match {
      case Some(m) if m.readsMr => 1 + m.parents.filter(isMr).map(mrDepth).maxOption.getOrElse(0)
      case _ => 0
    }
    val phase = Map(0 -> "map_s", 1 -> "reduce_s")
    stageList.filter(s => isMr(s._2.id)).foreach { case (_, s) =>
      add("mr." + phase.getOrElse(mrDepth(s.id), "final_s"), (s.complete - s.submit) / 1e3)
    }
    var wordCountShuffle1 = 0.0
    taskList.filter(t => isMr(t._2.stageId)).foreach { case (w, t) =>
      mrDepth(t.stageId) match {
        case 0 =>
          addCount("mr.shuffle1.records", t.shuffleRecords); addCount("mr.shuffle1.bytes", t.shuffleBytes)
          if (wordCountItem.contains(w.id)) wordCountShuffle1 += t.shuffleRecords
        case 1 =>
          addCount("mr.shuffle2.records", t.shuffleRecords); addCount("mr.shuffle2.bytes", t.shuffleBytes)
        case _ =>
      }
      addCount("mr.spill_bytes", t.spillBytes)
    }
    add("mr.jobs", jobList.count(_._2.stageIds.exists(isMr)))
    metrics("mr.shuffle1_per_token") =
      if (corpusTokens > 0) wordCountShuffle1 / corpusTokens else 0.0
    Seq("map_s", "shuffle1.records", "shuffle1.bytes", "reduce_s", "shuffle2.records",
      "shuffle2.bytes", "final_s", "spill_bytes").foreach(k => add(s"mr.$k", 0))

    // ops: task work of the Layer B queries, per query family
    val byItem = taskList.groupBy(_._1.id)
    for (f <- Families) {
      val ws = windows.filter(_.family == f)
      val ts = ws.flatMap(w => byItem.getOrElse(w.id, Nil)).map(_._2)
      add(s"ops.$f.wall_s", ws.map(_.seconds).sum)
      add(s"ops.$f.cpu_s", ts.map(_.cpuNs).sum / 1e9)
      add(s"ops.$f.gc_s", ts.map(_.gcMs).sum / 1e3)
      addCount(s"ops.$f.shuffle_bytes", ts.map(_.shuffleBytes).sum)
      addCount(s"ops.$f.shuffle_records", ts.map(_.shuffleRecords).sum)
      addCount(s"ops.$f.fetch_wait_ms", ts.map(_.fetchWaitMs).sum)
      addCount(s"ops.$f.spill_bytes", ts.map(_.spillBytes).sum)
      add(s"ops.$f.peak_exec_mem_mb", ts.map(_.peakMem).maxOption.getOrElse(0L) / MB)
    }

    // stream / state: micro-batch progress of the gates
    val bs = batchList.map(_._2)
    def dur(b: BatchRec, k: String) = b.durations.getOrElse(k, 0L).toDouble
    add("stream.batches", bs.size)
    add("stream.batch_p50_ms", median(bs.map(dur(_, "triggerExecution"))))
    Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
      .foreach(k => add(s"stream.${k}_ms", bs.map(dur(_, k)).sum))
    addCount("state.commit_ms", bs.map(_.commitMs).sum)
    addCount("state.updates_ms", bs.map(_.updatesMs).sum)
    addCount("state.removals_ms", bs.map(_.removalsMs).sum)
    val byRun = bs.groupBy(_.runId).values
    addCount("state.rows_total", byRun.map(_.maxBy(_.ts).rowsTotal).sum)
    addCount("state.memory_bytes", byRun.map(_.map(_.memoryBytes).max).sum)
    val written = files.values.asScala.toSeq.filter(f => owner(f._1).nonEmpty)
    val (ckpt, sink) = written.partition(_._3)
    add("sink.files", sink.size); addCount("sink.bytes", sink.map(_._2).sum)
    add("ckpt.files", ckpt.size); addCount("ckpt.bytes", ckpt.map(_._2).sum)

    // core: what the scans read
    addCount("core.scan_bytes", taskList.map(_._2.inputBytes).sum)
    addCount("core.scan_records", taskList.map(_._2.inputRecords).sum)

    (metrics.toSeq, spans(windows, jobList, stageList, batchList))
  }

  private def spans(windows: Seq[Window], jobList: Seq[(Window, JobRec)],
      stageList: Seq[(Window, StageRec)], batchList: Seq[(Window, BatchRec)]): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    val root = Span(0, "workload", -1, windows.map(_.start).minOption.getOrElse(0L),
      windows.map(_.end).maxOption.getOrElse(0L), -1)
    out += root
    windows.foreach(w => out += Span(out.size, s"item:${w.name}", w.id, w.start, w.end, 0))
    val itemSpan = windows.indices.map(i => windows(i).id -> (i + 1)).toMap
    val jobSpan = mutable.Map[Int, Int]()
    jobList.foreach { case (w, j) =>
      jobSpan(j.id) = out.size
      out += Span(out.size, s"job:${j.id}", w.id, j.start, j.end, itemSpan(w.id))
    }
    val stageJob = jobList.flatMap { case (_, j) => j.stageIds.map(_ -> j.id) }
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
    stageList.foreach { case (w, s) =>
      val parent = stageJob.get(s.id).flatMap(jobSpan.get).getOrElse(itemSpan(w.id))
      out += Span(out.size, s"stage:${s.id}", w.id, s.submit, s.complete, parent)
    }
    // a micro-batch's phases, laid end to end in the order a trigger
    // runs them (progress reports durations, not start times)
    batchList.foreach { case (w, b) =>
      val batch = out.size
      out += Span(batch, "batch", w.id, b.ts, b.ts + b.durations.getOrElse("triggerExecution", 0L),
        itemSpan(w.id))
      var t = b.ts
      Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch", "commitOffsets")
        .foreach { k => b.durations.get(k).foreach { d =>
          out += Span(out.size, s"batch.$k", w.id, t, t + d, batch); t += d
        } }
    }
    out.toSeq
  }
}

final case class Span(id: Int, name: String, item: Int, start: Long, end: Long, parent: Int)

object Tracer {
  val Families: Seq[String] = Seq("q", "a", "t", "d", "s", "e", "m", "p")
  private val MB = 1024.0 * 1024.0
  private val checkpointDirs = Set("offsets", "commits", "state", "sources")

  final case class TaskRec(stageId: Int, launch: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, shuffleRecords: Long, fetchWaitMs: Long, spillBytes: Long,
      peakMem: Long, inputBytes: Long, inputRecords: Long)
  final case class StageRec(id: Int, submit: Long, complete: Long)
  final case class StageMeta(parents: Seq[Int], readsMr: Boolean, mrCallSite: Boolean)
  /** RDD operation scope of the shuffles graft.mr.MapReduce runs. */
  private val MrShuffle = "repartitionAndSortWithinPartitions"
  final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int], sql: Boolean)
  final case class SqlRec(start: Long, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execMs: Double, exchanges: Int)
  final case class BatchRec(runId: String, ts: Long, durations: Map[String, Long],
      commitMs: Long, updatesMs: Long, removalsMs: Long, rowsTotal: Long, memoryBytes: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private object PlanShape extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int =
      collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  }
}
