package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: pass, op, sql, job, stage or batch. Times are
  * epoch milliseconds, the clock Spark's own events carry.
  */
final class Span(val id: Long, var parent: Long, val layer: String, val name: String,
                 val start: Double, var end: Double) {
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def dur: Double = end - start
}

/** Streaming progress of one micro-batch, with the op it ran under. */
final case class Batch(op: Long, startMs: Double, durations: Map[String, Double],
                       inputRows: Long, stateRows: Long, stateMemBytes: Long,
                       stateCommitMs: Double)

/** Micro-batch progress tap: Spark's own StreamingQueryProgress. Used on
  * the stream workload with tracing on or off (batch latency is an
  * end-to-end metric there).
  */
final class BatchTap(current: () => Long) extends StreamingQueryListener {
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val durations = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
      "queryPlanning", "getBatch", "latestOffset").map { k =>
      k -> (if (d.containsKey(k)) d.get(k).longValue().toDouble else 0.0)
    }.toMap
    val state = p.stateOperators
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      batches += Batch(current(), start, durations, p.numInputRows,
        state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
        state.map(_.commitTimeMs).sum.toDouble)
    }
  }
}

/** The traced run's recorder: a SparkListener for SQL executions, jobs,
  * stages, tasks and cached blocks, plus a QueryExecutionListener for
  * planning phases and SQL node metrics. Events are attributed to the op
  * that was running when the listener bus delivered them; the harness
  * waits for the bus to settle after each op, so that attribution holds.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var nextId = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var cur: Span = _
  @volatile var lastEventNs: Long = System.nanoTime()
  private val sqlSpans = mutable.Map.empty[Long, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageTaskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L
  @volatile var openSql = 0
  @volatile var openJobs = 0

  def newSpan(parent: Long, layer: String, name: String, start: Double): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, parent, layer, name, start, start)
    spans += s
    s
  }

  def currentId: Long = Option(cur).map(_.id).getOrElse(0L)
  def begin(op: Span): Unit = cur = op

  private def touch(): Unit = lastEventNs = System.nanoTime()

  /** Waits until every SQL execution and job the op started has ended
    * and the bus has been quiet for a moment.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (System.nanoTime() < deadline &&
      (openSql > 0 || openJobs > 0 || System.nanoTime() - lastEventNs < 40000000L))
      Thread.sleep(5)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = {
    touch()
    event match {
      case e: SparkListenerSQLExecutionStart => synchronized {
        openSql += 1
        val root = e.rootExecutionId.filter(_ != e.executionId).flatMap(sqlSpans.get)
        val parent = root.map(_.id).getOrElse(currentId)
        sqlSpans(e.executionId) = newSpan(parent, "sql", e.description.take(80), e.time.toDouble)
      }
      case e: SparkListenerSQLExecutionEnd => synchronized {
        openSql = math.max(0, openSql - 1)
        sqlSpans.get(e.executionId).foreach(_.end = e.time.toDouble)
      }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    openJobs += 1
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSpans.get(id.toLong))
    val s = newSpan(sql.map(_.id).getOrElse(currentId), "job", s"job ${e.jobId}", e.time.toDouble)
    jobSpans(e.jobId) = s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s))
    if (cur != null) cur.add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    openJobs = math.max(0, openJobs - 1)
    jobSpans.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val si = e.stageInfo
    val parent = stageJob.get(si.stageId).map(_.id).getOrElse(currentId)
    val s = newSpan(parent, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
      si.submissionTime.getOrElse(0L).toDouble)
    s.end = si.completionTime.getOrElse(0L).toDouble
    s.add("tasks", si.numTasks)
    if (cur != null) {
      cur.add("stages", 1)
      // skew: slowest task over the median task of the stage
      stageTaskTimes.remove(si.stageId).filter(_.length >= 2).foreach { t =>
        val sorted = t.sorted
        val med = sorted(sorted.length / 2)
        if (med > 0) { cur.add("skew_sum", sorted.last / med); cur.add("skew_n", 1) }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val op = cur
    if (op == null) return
    val ti = e.taskInfo
    op.add("tasks", 1)
    if (ti.attemptNumber > 0 || ti.failed || ti.killed) op.add("task_retries", 1)
    stageTaskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ti.duration.toDouble
    val m = e.taskMetrics
    if (m == null) return
    val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
      ti.gettingResultTime
    op.add("task_wall_ms", ti.duration)
    op.add("sched_delay_ms", math.max(0L, ti.duration - overhead))
    op.add("task_ms", m.executorRunTime)
    op.add("task_cpu_ns", m.executorCpuTime)
    op.add("task_deser_ms", m.executorDeserializeTime)
    op.add("gc_ms", m.jvmGCTime)
    op.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    op.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
    op.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    op.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
    op.add("spill_mem_bytes", m.memoryBytesSpilled)
    op.add("spill_disk_bytes", m.diskBytesSpilled)
    op.add("input_rows", m.inputMetrics.recordsRead)
    op.add("input_bytes", m.inputMetrics.bytesRead)
    if (m.inputMetrics.bytesRead > 0) op.add("scan_tasks", 1)
    op.add("output_rows", m.outputMetrics.recordsWritten)
    op.add("output_bytes", m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    touch()
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedNow += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  // ---- QueryExecutionListener: planning phases and SQL node metrics ----

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    touch()
    val op = cur
    if (op == null) return
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
      .getOrElse(0.0)
    val plan = qe.executedPlan
    var exchanges = 0; var cand = 0L; var verified = 0L; var gen = 0L; var genIn = 0L
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    // the nearest node below `p` (through projections) that counts rows
    def childRows(p: SparkPlan): Long = p match {
      case _ if p.metrics.contains("numOutputRows") => rows(p)
      case x: ProjectExec => childRows(x.child)
      case x: InputAdapter => childRows(x.child)
      case x: WholeStageCodegenExec => childRows(x.child)
      case _ => 0L
    }
    // a join reached from `p` through single-child nodes: the filter
    // above it is the verify step of a candidate join
    def joinBelow(p: SparkPlan): Boolean = p match {
      case _: BaseJoinExec => true
      case s: QueryStageExec => joinBelow(s.plan)
      case x if x.children.size == 1 => joinBelow(x.children.head)
      case _ => false
    }
    collectWithSubqueries(plan) {
      case _: ShuffleExchangeExec => exchanges += 1
      case j: BaseJoinExec => cand += rows(j)
      case f: FilterExec if joinBelow(f.child) => verified += rows(f)
      case g: GenerateExec => gen += rows(g); genIn += childRows(g.child)
    }
    synchronized {
      op.add("sql_actions", 1)
      op.add("analysis_ms", phase("analysis"))
      op.add("optimize_ms", phase("optimization"))
      op.add("planning_ms", phase("planning"))
      op.add("exec_ms", durationNs / 1e6)
      op.add("exchanges", exchanges)
      op.add("cand_rows", cand)
      op.add("verified_rows", verified)
      op.add("generate_rows", gen)
      op.add("generate_in_rows", genIn)
    }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = { touch(); if (cur != null) cur.add("sql_failures", 1) }

  /** Moves each SQL span that started inside a micro-batch of its op
    * under that batch (op → micro-batch → SQL action).
    */
  def nestUnderBatches(): Unit = synchronized {
    val batches = spans.filter(_.layer == "batch").groupBy(_.parent)
    spans.filter(_.layer == "sql").foreach { s =>
      batches.getOrElse(s.parent, Nil).find(b => b.start <= s.start && s.start <= b.end)
        .foreach(b => s.parent = b.id)
    }
  }

  /** Self time: duration minus the part of it the children's intervals cover. */
  def selfTimes(): Map[Long, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var hi = Double.MinValue
      iv.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Wall time of `op` during which no Spark job of it was running. */
  def noJobMs(op: Span): Double = synchronized {
    val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
    val byId = spans.map(s => s.id -> s).toMap
    def underOp(s: Span): Boolean =
      s.parent == op.id || byId.get(s.parent).exists(p => p.layer != "op" && underOp(p))
    spans.filter(s => s.layer == "job" && underOp(s)).foreach { j =>
      jobs += ((math.max(j.start, op.start), math.min(j.end, op.end)))
    }
    var covered = 0.0; var hi = Double.MinValue
    jobs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, hi)
      if (b > lo) covered += b - lo
      hi = math.max(hi, b)
    }
    math.max(0.0, op.dur - covered)
  }
}

object Trace {
  def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }
}
