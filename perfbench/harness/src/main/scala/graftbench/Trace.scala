package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchSql, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds (Spark's own event
  * clock); `qid` is the query execution the span belongs to, shared by every
  * span under it.
  */
final class Span(val id: Long, val kind: String, val name: String,
    val start: Double, var end: Double) {
  var parent: Long = 0L
  var qid: Long = 0L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = end - start
}

/** Records Spark's own events through listeners the benchmark registers on
  * the session, plus the harness's own pass/query/build/action spans, and
  * derives the per-layer metrics from them.
  *
  * Events arrive on Spark's listener bus thread; every buffer is guarded by
  * `this`. Derivation runs after the bus has drained.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private var nextId = 1L
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  // harness-side spans: pass, query, build, action
  private val own = mutable.ArrayBuffer.empty[Span]

  private final class JobRec(val id: Int, val start: Long, val stageIds: Seq[Int],
      val qid: Option[Long], val phase: Option[String], val sqlId: Option[Long]) {
    var end: Long = start
  }
  private final class StageRec(val id: Int, val attempt: Int, val name: String,
      val numTasks: Int) {
    var submitted: Long = -1L
    var completed: Long = -1L
    var firstLaunch: Long = Long.MaxValue
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  }
  private final class SqlRec(val id: Long, val root: Long, val start: Long,
      val desc: String) {
    var end: Long = start
    var phases: Map[String, Double] = Map.empty
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  private val blocks = mutable.ArrayBuffer.empty[(Long, Double)] // (time, bytes stored)
  private val triggers = mutable.ArrayBuffer.empty[(Long, Double)] // (time, trigger ms)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = e.properties
      jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds,
        prop(p, QidKey).map(_.toLong), prop(p, PhaseKey),
        prop(p, "spark.sql.execution.id").map(_.toLong))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo)
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo)
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitted < 0) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(e.stageId, e.stageAttemptId, "", 0))
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
      s.add("tasks", 1)
      val t = e.taskMetrics
      if (t != null) {
        s.add("task_run_ms", t.executorRunTime)
        s.add("task_cpu_ns", t.executorCpuTime)
        s.add("gc_ms", t.jvmGCTime)
        s.add("input_bytes", t.inputMetrics.bytesRead)
        s.add("input_records", t.inputMetrics.recordsRead)
        s.add("output_bytes", t.outputMetrics.bytesWritten)
        s.add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
        s.add("shuffle_read_bytes",
          t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead)
        s.add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
        s.add("spill_bytes", t.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks += ((System.currentTimeMillis(), (b.memSize + b.diskSize).toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqls(s.executionId) = new SqlRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, s.description)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqls.get(s.executionId).foreach { r =>
          r.end = s.time
          // Catalyst phase durations, build-phase actions included
          GraftBenchSql.queryExecution(s).foreach { qe =>
            r.phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          }
        }
      }
      // streaming progress reaches every SparkListener, whichever session
      // runs the stream (the operators start theirs on a new session)
      case p: StreamingQueryListener.QueryProgressEvent =>
        val d = Option(p.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        val t = java.time.Instant.parse(p.progress.timestamp).toEpochMilli
        Tracer.this.synchronized { triggers += ((t, d)) }
      case _ =>
    }
    private def stage(i: StageInfo): StageRec =
      stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        new StageRec(i.stageId, i.attemptNumber(), i.name, i.numTasks))
  }

  def install(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def open(kind: String, name: String, parent: Option[Span], qid: Long): Span = {
    val s = new Span(newId(), kind, name, Clock.ms(), Double.NaN)
    s.parent = parent.map(_.id).getOrElse(0L)
    s.qid = qid
    synchronized { own += s }
    s
  }
  def close(s: Span): Unit = s.end = Clock.ms()

  /** Builds the full span tree: the harness's own spans plus one span per SQL
    * execution, job and stage, parented by the local properties the harness
    * set (jobs) and by time containment (SQL executions, which carry none).
    */
  def spans(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span] ++ own
    val phasesOf = own.filter(s => s.kind == "build" || s.kind == "action")
    def phaseAt(t: Double): Option[Span] =
      phasesOf.find(p => p.start <= t && t <= p.end)
    val sqlSpan = mutable.Map.empty[Long, Span]
    for (r <- sqls.values.toSeq.sortBy(_.id)) {
      val s = new Span(newId(), "sql", r.desc.take(80), r.start.toDouble, r.end.toDouble)
      val parent = if (r.root != r.id) sqlSpan.get(r.root) else phaseAt(s.start)
      parent.foreach { p => s.parent = p.id; s.qid = p.qid }
      Seq("analysis", "optimization", "planning").foreach { k =>
        s.counts(s"${k}_ms") = r.phases.getOrElse(k, 0.0)
      }
      sqlSpan(r.id) = s
      out += s
    }
    val jobSpan = mutable.Map.empty[Int, Span]
    for (j <- jobs.values) {
      val s = new Span(newId(), "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
      val parent = j.sqlId.flatMap(sqlSpan.get).orElse(
        phasesOf.find(p => j.qid.contains(p.qid) && j.phase.contains(p.kind))
      ).orElse(phaseAt(s.start))
      parent.foreach { p => s.parent = p.id; s.qid = p.qid }
      j.qid.foreach(q => s.qid = q)
      s.counts("stages") = j.stageIds.size
      jobSpan(j.id) = s
      out += s
    }
    val jobOfStage = mutable.Map.empty[Int, Int]
    for (j <- jobs.values; st <- j.stageIds) jobOfStage.getOrElseUpdate(st, j.id)
    for (r <- stages.values if r.submitted >= 0) {
      val end = if (r.completed >= 0) r.completed else r.submitted
      val s = new Span(newId(), "stage", s"stage ${r.id}.${r.attempt} ${r.name}".take(80),
        r.submitted.toDouble, end.toDouble)
      jobOfStage.get(r.id).flatMap(jobSpan.get).foreach { p => s.parent = p.id; s.qid = p.qid }
      s.counts("num_tasks") = r.numTasks
      r.m.foreach { case (k, v) => s.counts(k) = v }
      if (r.firstLaunch != Long.MaxValue) s.counts("first_launch") = r.firstLaunch.toDouble
      out += s
    }
    out.toSeq
  }

  def blockEvents: Seq[(Long, Double)] = synchronized(blocks.toSeq)
  def triggerEvents: Seq[(Long, Double)] = synchronized(triggers.toSeq)
}

object Tracer {
  val QidKey = "graftbench.qid"
  val PhaseKey = "graftbench.phase"
}

/** Epoch milliseconds with sub-millisecond resolution, on the same clock as
  * Spark's event timestamps.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
