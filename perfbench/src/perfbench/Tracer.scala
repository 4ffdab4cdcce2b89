package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters of a traced pass, recorded from outside the program.
  *
  * Each operation's jobs carry the job tag `pb-<op>-build` or
  * `pb-<op>-final`, set by the harness around the build and the final
  * write; job, stage and task events are attached to their operation and
  * phase through that tag. Query executions (with their Catalyst phase
  * times from `QueryExecution.tracker`) carry no tag, so the listener bus is drained at every phase boundary and they are
  * attached to the phase that was current when they arrived. Spans stay in
  * memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  final class JobAgg(val op: String, val phase: String, val tagged: Boolean, val startMs: Long) {
    var endMs: Long = startMs
    var stages = 0
    var stageRetries = 0
    var tasks = 0
    var taskRetries = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsWritten = 0L
    var bytesWritten = 0L
  }
  final class Phase { var qe = 0; val trackers = mutable.ArrayBuffer.empty[QueryPlanningTracker] }

  private val spans = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private val jobs = mutable.Map.empty[Int, JobAgg]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var curOp: String = null
  @volatile private var curPhase: String = null
  private val phases = mutable.Map.empty[(String, String), Phase]
  private var codegen0 = 0L

  private def span(id: String, parent: String, name: String, op: String,
      start: Double, end: Double): Unit = spans.synchronized {
    spans += Harness.obj("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
      "start_ms" -> start, "end_ms" -> end)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val tagged = tags.collectFirst {
        case t if t.startsWith("pb-") && (t.endsWith("-build") || t.endsWith("-final")) =>
          (t.stripPrefix("pb-").dropRight(6), t.takeRight(5))
      }
      val (op, ph) = tagged.getOrElse((if (tags.contains("pb-check")) null else curOp, curPhase))
      if (op != null) {
        jobs(e.jobId) = new JobAgg(op, ph, tagged.isDefined, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        span(s"job-${e.jobId}", s"${j.op}/${j.phase}", "job", j.op, j.startMs.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        if (si.attemptNumber() > 0) j.stageRetries += 1
        for (s <- si.submissionTime; c <- si.completionTime)
          span(s"stage-${si.stageId}.${si.attemptNumber()}", s"job-${stageJob(si.stageId)}",
            "stage", j.op, s.toDouble, c.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val failed = e.reason != org.apache.spark.Success
        if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative || failed) j.taskRetries += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.recordsWritten += m.outputMetrics.recordsWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def phaseOf(op: String, ph: String): Phase =
    phases.synchronized(phases.getOrElseUpdate((op, ph), new Phase))

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val op = curOp
      if (op != null) {
        val p = phaseOf(op, curPhase)
        p.synchronized { p.qe += 1; p.trackers += qe.tracker }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    Bridge.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginOp(op: String): Unit = {
    Bridge.drain(sc)
    curOp = op
    curPhase = "build"
    codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  def phase(name: String): Unit = { Bridge.drain(sc); curPhase = name }

  /** The built DataFrame's own planning tracker: it holds the parse and
    * analysis of the statement, which no action reports to a listener. */
  def built(df: DataFrame): Unit = {
    val p = phaseOf(curOp, "build")
    p.synchronized(p.trackers += df.queryExecution.tracker)
  }

  def span(name: String, startNs: Long, endNs: Long): Unit =
    span(s"$curOp/$name", curOp, name, curOp, epochMs(startNs), epochMs(endNs))

  /** Closes the operation and returns its per-layer record. */
  def endOp(t0: Long, tEnd: Long): java.util.Map[String, Any] = {
    Bridge.drain(sc)
    val op = curOp
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
    curOp = null
    span(op, null, "op", op, epochMs(t0), epochMs(tEnd))
    val opJobs = jobs.synchronized(jobs.values.filter(_.op == op).toVector)
    def sum(ph: Option[String])(f: JobAgg => Long): Long =
      opJobs.filter(j => ph.forall(_ == j.phase)).map(f).sum
    val build = spans.synchronized(spans.find(s => s.get("id") == s"$op/build"))
    val (b0, b1) = build.map(s => (s.get("start_ms").asInstanceOf[Double],
      s.get("end_ms").asInstanceOf[Double])).getOrElse((0.0, 0.0))
    val buildJobs = opJobs.filter(_.phase == "build")
    val covered = Tracer.unionWithin(buildJobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), b0, b1)
    def ph(p: String) = phases.synchronized(phases.get((op, p)))
    // a tracker can reach both the built DataFrame and an action on it
    val seen = new java.util.IdentityHashMap[QueryPlanningTracker, Unit]()
    val catalyst = mutable.Map("parsing" -> 0.0, "analysis" -> 0.0, "optimization" -> 0.0,
      "planning" -> 0.0)
    for (p <- Seq("build", "final"); phase <- ph(p); t <- phase.trackers
         if seen.put(t, ()) == null; (name, s) <- t.phases) {
      catalyst(name) = catalyst.getOrElse(name, 0.0) + s.durationMs
      span(s"$op/$p/qe${seen.size}/$name", s"$op/$p", s"catalyst.$name", op,
        s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
    Harness.obj(
      "jobs" -> opJobs.size,
      "build_jobs" -> buildJobs.size,
      "untagged_jobs" -> opJobs.count(!_.tagged),
      "stages" -> sum(None)(_.stages.toLong),
      "stage_retries" -> sum(None)(_.stageRetries.toLong),
      "tasks" -> sum(None)(_.tasks.toLong),
      "task_retries" -> sum(None)(_.taskRetries.toLong),
      "task_cpu_ms" -> sum(None)(_.cpuNs) / 1e6,
      "shuffle_bytes" -> sum(None)(_.shuffleBytes),
      "spill_bytes" -> sum(None)(_.spillBytes),
      "records_written" -> sum(None)(_.recordsWritten),
      "bytes_written" -> sum(None)(_.bytesWritten),
      "query_execs" -> (ph("build").map(_.qe).getOrElse(0) + ph("final").map(_.qe).getOrElse(0)),
      "build_query_execs" -> ph("build").map(_.qe).getOrElse(0),
      "catalyst_ms" -> catalyst,
      "codegen_compiles" -> compiles,
      "driver_gap_ms" -> ((b1 - b0) - covered))
  }

  def writeSpans(f: File): Unit = {
    val m = new ObjectMapper()
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(m.writeValueAsString(s))) finally w.close()
  }
}

object Tracer {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionWithin(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
