package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the program from outside, through Spark's public listener
  * APIs: task counts always (so a pass's task count can tell a plan change
  * from host noise), and — while [[enabled]] — the job, stage, task,
  * planning-phase and streaming-progress records the traced run turns into
  * per-layer metrics. Records stay in memory until [[take]].
  *
  * Times are epoch milliseconds, the clock the listener events carry. */
class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  @volatile var enabled = false
  val tasks = new AtomicLong

  private val jobs = new ConcurrentLinkedQueue[Job]
  // boxed values: a missing key must read as null, not as 0
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, Integer]
  private val taskRecs = new ConcurrentLinkedQueue[Task]
  private val stages = new AtomicLong
  private val phases = new ConcurrentLinkedQueue[Span]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
  })
  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (enabled) progress.add(e.progress)
  })

  private def planned(qe: QueryExecution): Unit =
    if (enabled) qe.tracker.phases.values.foreach { p =>
      phases.add(Span(p.startTimeMs, p.endTimeMs))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    e.stageInfos.foreach(i => stageJob.put(i.stageId, e.jobId))
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(e.jobId)
    if (start != null) jobs.add(Job(e.jobId, Span(start, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (enabled && m != null) {
      val i = e.taskInfo
      val sr = m.shuffleReadMetrics
      taskRecs.add(Task(
        job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1),
        stage = e.stageId, span = Span(i.launchTime, i.finishTime),
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime, inputBytes = m.inputMetrics.bytesRead,
        inputRows = m.inputMetrics.recordsRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = sr.localBytesRead + sr.remoteBytesRead,
        shuffleReadRows = sr.recordsRead, fetchWaitMs = sr.fetchWaitTime,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        resultBytes = m.resultSize))
    }
  }

  /** Waits for the listener bus, then hands over (and forgets) every
    * record taken since the last call. */
  def take(): Records = {
    org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
    def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Records(drainQ(jobs), drainQ(taskRecs), stages.getAndSet(0),
      drainQ(phases), drainQ(progress))
  }
}

object Trace {
  case class Span(start: Long, end: Long) {
    def ms: Long = math.max(0L, end - start)
    def contains(t: Long): Boolean = t >= start && t < end
  }
  case class Job(id: Int, span: Span)
  case class Task(job: Int, stage: Int, span: Span, runMs: Long, cpuNs: Long,
      gcMs: Long, inputBytes: Long, inputRows: Long, shuffleWrite: Long,
      shuffleRead: Long, shuffleReadRows: Long, fetchWaitMs: Long,
      spill: Long, resultBytes: Long)
  case class Records(jobs: Seq[Job], tasks: Seq[Task], stages: Long,
      phases: Seq[Span],
      progress: Seq[StreamingQueryProgress])

  /** The layers a query's wall time is split into, in the priority that
    * decides a millisecond covered by several: a running task is executor
    * time; the rest of a job is scheduler time; a planning phase outside
    * jobs is catalyst time; the rest of the query-function call is
    * operator (driver-loop) time; anything left is driver gap. */
  val SelfLayers: Seq[String] =
    Seq("executor", "scheduler", "catalyst", "operators", "driver")

  /** Partitions `query` into [[SelfLayers]] milliseconds; the parts sum to
    * `query.ms` exactly. */
  def selfTimes(query: Span, build: Span, r: Records): Map[String, Long] = {
    val n = query.ms.toInt
    val layer = Array.fill(n)(4)
    def paint(s: Span, code: Int): Unit = {
      val a = math.max(s.start, query.start) - query.start
      val b = math.min(s.end, query.end) - query.start
      var t = a.toInt
      while (t < b) { if (layer(t) > code) layer(t) = code; t += 1 }
    }
    paint(build, 3)
    r.phases.foreach(paint(_, 2))
    r.jobs.foreach(j => paint(j.span, 1))
    r.tasks.foreach(t => paint(t.span, 0))
    val counts = new Array[Long](SelfLayers.size)
    layer.foreach(c => counts(c) += 1)
    SelfLayers.zip(counts).toMap
  }

  /** Union length of spans clipped to `within`. */
  def covered(spans: Seq[Span], within: Span): Long = {
    val clipped = spans.map(s => Span(math.max(s.start, within.start),
      math.min(s.end, within.end))).filter(_.ms > 0).sortBy(_.start)
    var total = 0L
    var cur: Option[Span] = None
    clipped.foreach { s =>
      cur match {
        case Some(c) if s.start <= c.end =>
          cur = Some(Span(c.start, math.max(c.end, s.end)))
        case Some(c) => total += c.ms; cur = Some(s)
        case None => cur = Some(s)
      }
    }
    total + cur.map(_.ms).getOrElse(0L)
  }

  /** Accumulates one traced pass's records into per-layer totals. */
  class Totals(cores: Int) {
    /** Every summed total, present (as 0) whether or not the workload
      * reaches its layer: a stream-free workload reports no batches. */
    val v = mutable.LinkedHashMap.from((Seq("trace.span_ms",
      "operators.build_ms", "operators.build_jobs",
      "operators.driver_result_bytes", "catalyst.plan_ms", "scheduler.jobs",
      "scheduler.stages", "scheduler.tasks", "scheduler.task_overhead_ms",
      "scheduler.job_core_ms", "scheduler.task_busy_ms",
      "scheduler.useful_tasks", "executor.run_ms", "executor.cpu_ms",
      "executor.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
      "shuffle.fetch_wait_ms", "shuffle.spill_bytes", "sources.input_bytes",
      "sources.input_rows", "sources.scan_tasks", "streaming.batches",
      "streaming.plan_ms", "streaming.add_batch_ms", "streaming.commit_ms",
      "streaming.state_commit_ms", "streaming.state_rows",
      "streaming.state_bytes", "driver.gap_ms") ++
      SelfLayers.filter(_ != "driver").map(l => s"$l.self_ms"))
      .map(_ -> 0.0))
    private val runByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    def add(query: Span, build: Span, r: Records): Unit = {
      val self = selfTimes(query, build, r)
      SelfLayers.foreach { l =>
        v(if (l == "driver") "driver.gap_ms" else s"$l.self_ms") += self(l)
      }
      v("trace.span_ms") += query.ms
      v("operators.build_ms") += build.ms
      val buildJobs = r.jobs.filter(j => build.contains(j.span.start))
      val buildJobIds = buildJobs.map(_.id).toSet
      v("operators.build_jobs") += buildJobs.size
      v("operators.driver_result_bytes") += r.tasks
        .filter(t => buildJobIds.contains(t.job)).map(_.resultBytes).sum
      v("catalyst.plan_ms") += r.phases.map(_.ms).sum
      v("scheduler.jobs") += r.jobs.size
      v("scheduler.stages") += r.stages
      v("scheduler.tasks") += r.tasks.size
      v("scheduler.task_overhead_ms") +=
        r.tasks.map(t => math.max(0L, t.span.ms - t.runMs)).sum
      val jobMs = covered(r.jobs.map(_.span), query)
      v("scheduler.job_core_ms") += jobMs * cores
      v("scheduler.task_busy_ms") += r.tasks.map(_.span.ms).sum
      v("scheduler.useful_tasks") += r.tasks.count(t =>
        t.inputRows > 0 || t.shuffleReadRows > 0)
      v("executor.run_ms") += r.tasks.map(_.runMs).sum
      v("executor.cpu_ms") += r.tasks.map(_.cpuNs).sum / 1e6
      v("executor.gc_ms") += r.tasks.map(_.gcMs).sum
      r.tasks.foreach(t => runByStage.getOrElseUpdate(t.stage,
        mutable.ArrayBuffer.empty) += t.runMs)
      v("shuffle.write_bytes") += r.tasks.map(_.shuffleWrite).sum
      v("shuffle.read_bytes") += r.tasks.map(_.shuffleRead).sum
      v("shuffle.fetch_wait_ms") += r.tasks.map(_.fetchWaitMs).sum
      v("shuffle.spill_bytes") += r.tasks.map(_.spill).sum
      v("sources.input_bytes") += r.tasks.map(_.inputBytes).sum
      v("sources.input_rows") += r.tasks.map(_.inputRows).sum
      v("sources.scan_tasks") += r.tasks.count(_.inputBytes > 0)
      r.progress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Long =
          Option(d.get(k)).map(_.longValue).getOrElse(0L)
        v("streaming.batches") += 1
        v("streaming.plan_ms") += ms("queryPlanning")
        v("streaming.add_batch_ms") += ms("addBatch")
        v("streaming.commit_ms") += ms("walCommit") + ms("commitOffsets")
        p.stateOperators.foreach { s =>
          v("streaming.state_commit_ms") += s.commitTimeMs
        }
      }
      // state size as of each stream's last batch
      r.progress.groupBy(_.id).values.map(_.maxBy(_.batchId)).foreach { p =>
        v("streaming.state_rows") += p.stateOperators.map(_.numRowsTotal).sum
        v("streaming.state_bytes") +=
          p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }

    /** Per-pass values: sums divided by `passes`, ratios from the sums. */
    def metrics(passes: Int): Map[String, Double] = {
      val per = v.toMap.map { case (k, x) => k -> x / passes }
      val skews = runByStage.values.filter(_.size >= 2).map { runs =>
        val s = runs.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
      per -- Seq("scheduler.job_core_ms", "scheduler.task_busy_ms",
        "scheduler.useful_tasks") ++ Map(
        "scheduler.core_idle_frac" -> (1.0 - v("scheduler.task_busy_ms") /
          math.max(1.0, v("scheduler.job_core_ms"))),
        "scheduler.useful_task_frac" ->
          v("scheduler.useful_tasks") / math.max(1.0, v("scheduler.tasks")),
        "executor.task_skew" ->
          (if (skews.isEmpty) 1.0 else skews.sum / skews.size))
    }
  }
}
