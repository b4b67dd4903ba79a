package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named time interval of the traced run, in epoch milliseconds.
  * `op` is the shared id of the root span it belongs to. */
final case class Span(op: Long, id: String, parent: String, name: String,
                      start: Double, end: Double)

/** Counters of one op, summed from the events its job group caused. */
final class Counters {
  private val m = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = m.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)
  def toMap: Map[String, Double] = m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

/** Per-layer tracing through Spark's public hooks only: a
  * [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for planning phases and broadcast sizes,
  * and the `CodegenMetrics` / `HiveCatalogMetrics` counters. Every op
  * runs under its own job group `op-<id>`, so events are tied to the op
  * that caused them even when several clients run at once. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Job(val op: Long, val start: Long) { @volatile var end: Long = -1L }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execOp = new ConcurrentHashMap[Long, java.lang.Long]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpans = new ConcurrentLinkedQueue[(Int, Int, Long, Long)]()
  private val finishedQe = new ConcurrentLinkedQueue[(Double, Double)]()
  private val events = new AtomicLong()
  private val codegenAt = new ConcurrentHashMap[Long, Array[Long]]()

  def countersOf(op: Long): Counters = counters.computeIfAbsent(op, _ => new Counters)

  private def opOfGroup(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toLong).getOrElse(-1L)

  // ---- op boundaries (called on the client thread) ----

  def begin(spark: SparkSession, op: Long): Unit = {
    spark.sparkContext.setJobGroup(s"op-$op", s"op-$op", interruptOnCancel = false)
    codegenAt.put(op, Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount))
  }

  def end(spark: SparkSession, op: Long): Unit = {
    spark.sparkContext.clearJobGroup()
    val at = codegenAt.remove(op)
    val c = countersOf(op)
    c.add("spark.driver.codegen_compiles",
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - at(0))
    c.add("graft.sources.Tables.files_discovered",
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - at(1))
  }

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val op = opOfGroup(e.properties)
    jobs.put(e.jobId, new Job(op, e.time))
    e.stageIds.foreach { s =>
      stageOp.putIfAbsent(s, op)
      stageJob.putIfAbsent(s, e.jobId)
    }
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOp.putIfAbsent(x.toLong, op))
    if (op >= 0) countersOf(op).add("spark.exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    stageSubmit.put(e.stageInfo.stageId,
      Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    val op: Long = Option(stageOp.get(si.stageId)).map(_.longValue).getOrElse(-1L)
    if (op >= 0) {
      countersOf(op).add("spark.exec.stages", 1)
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      stageSpans.add((si.stageId,
        Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1), start, end))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    if (op < 0) return
    val c = countersOf(op)
    c.add("spark.exec.tasks", 1)
    val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue)
      .getOrElse(e.taskInfo.launchTime)
    c.add("spark.exec.sched_delay_s", math.max(0L, e.taskInfo.launchTime - submitted) / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      c.add("spark.exec.task_run_s", m.executorRunTime / 1e3)
      c.add("spark.exec.task_cpu_s", m.executorCpuTime / 1e9)
      c.add("spark.exec.task_gc_s", m.jvmGCTime / 1e3)
      c.add("spark.exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("spark.exec.input_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("spark.exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spark.exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spark.exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      c.add("spark.exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      s.jobGroupId.filter(_.startsWith("op-"))
        .foreach(g => execOp.put(s.executionId, g.drop(3).toLong))
    // The session's QueryExecutionListener bus sits on the same listener
    // queue and was registered first, so it has handled this end event
    // (calling onSuccess) just before this listener sees it.
    case end: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      Option(finishedQe.poll()).foreach { case (plan, bcast) =>
        Option(execOp.get(end.executionId)).foreach { op =>
          val c = countersOf(op.longValue)
          c.add("spark.driver.plan_s", plan)
          c.add("spark.exec.broadcast_bytes", bcast)
        }
      }
    case _ => ()
  }

  // ---- QueryExecutionListener ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases
    val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    val bcast = Tracer.broadcastBytes(qe.executedPlan)
    finishedQe.add((planMs / 1e3, bcast))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.incrementAndGet()

  /** Wait until the listener bus has delivered every event of the run:
    * all started jobs ended and no new event for `quietMs`. */
  def drain(quietMs: Long = 500, maxMs: Long = 20000): Unit = {
    val t0 = System.currentTimeMillis()
    var last = -1L
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < maxMs) {
      val n = events.get()
      val open = jobs.values.asScala.exists(_.end < 0)
      if (n != last || open) { last = n; since = System.currentTimeMillis() }
      else if (System.currentTimeMillis() - since >= quietMs) return
      Thread.sleep(50)
    }
  }

  /** Close the trace of the given ops: adds the job-derived counters
    * (`graft.queries.build_jobs`, `spark.driver.only_s`) to each op's
    * counters and returns every span (op, build, execute, job, stage). */
  def finish(ops: Seq[Op]): Seq[Span] = {
    val jobsByOp = jobs.asScala.toSeq.filter(_._2.op >= 0).groupBy(_._2.op)
    val stagesByJob = stageSpans.asScala.toSeq.groupBy(_._2)
    ops.flatMap { o =>
      val root = s"${o.id}"
      val c = countersOf(o.id)
      val opJobs = jobsByOp.getOrElse(o.id, Seq.empty).sortBy(_._1)
      c.add("graft.queries.build_jobs", opJobs.count(_._2.start < o.buildMs).toDouble)
      val ivs = opJobs.map { case (_, j) =>
        (math.max(j.start.toDouble, o.startMs), math.min(math.max(j.end, j.start).toDouble, o.endMs)) }
      c.add("spark.driver.only_s", math.max(0.0, (o.endMs - o.startMs) - Tracer.covered(ivs)) / 1e3)
      val base = Seq(
        Span(o.id, root, "", s"op:${o.kind}", o.startMs, o.endMs),
        Span(o.id, s"$root.b", root, "build", o.startMs, o.buildMs),
        Span(o.id, s"$root.x", root, "execute", o.buildMs, o.endMs))
      val jobSpans = opJobs.flatMap { case (jid, j) =>
        val parent = if (j.start < o.buildMs) s"$root.b" else s"$root.x"
        Span(o.id, s"$root.j$jid", parent, "job", j.start, math.max(j.end, j.start)) +:
          stagesByJob.getOrElse(jid, Seq.empty).map { case (sid, _, s, e) =>
            Span(o.id, s"$root.s$sid", s"$root.j$jid", "stage", s, e) }
      }
      base ++ jobSpans
    }
  }
}

object Tracer {
  private object Walk extends AdaptiveSparkPlanHelper

  /** Bytes built by every broadcast exchange in a physical plan,
    * including adaptive query stages and subqueries. */
  def broadcastBytes(plan: SparkPlan): Double =
    Walk.collectWithSubqueries(plan) { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L).toDouble
    }.sum

  /** Length of the union of intervals. */
  def covered(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Seq.empty)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      s.id -> math.max(0.0, (s.end - s.start) - covered(ivs))
    }.toMap
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
