package graftbench

import scala.collection.mutable

/** Derives the per-layer metrics of the measured passes from the span tree.
  * Every metric is a per-pass mean except the medians (launch delay, trigger
  * time), which are taken over all their jobs and triggers.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  /** Sum of the gaps inside [lo, hi] that no interval of `ivs` covers. */
  def gapLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val sorted = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var gap = 0.0
    var frontier = lo
    sorted.foreach { case (a, b) =>
      if (a > frontier) gap += a - frontier
      frontier = math.max(frontier, b)
    }
    gap + math.max(0.0, hi - frontier)
  }

  /** Self time of each span: its length minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> math.max(0.0, s.dur - unionLength(ch, s.start, s.end))
    }.toMap
  }

  /** The nearest span at or above `s` whose kind is in `kinds`. */
  private def ancestor(byId: Map[Long, Span], s: Span, kinds: Set[String]): Option[Span] = {
    var cur: Option[Span] = Some(s)
    while (cur.exists(c => !kinds.contains(c.kind))) cur = cur.flatMap(c => byId.get(c.parent))
    cur
  }

  /** The spans under the given passes, the passes excluded. */
  private def underPasses(spans: Seq[Span], passIds: Set[Long]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(s => s.kind != "pass" &&
      ancestor(byId, s, Set("pass")).exists(p => passIds.contains(p.id)))
  }

  def derive(spans: Seq[Span], passIds: Set[Long], cores: Int,
      blocks: Seq[(Long, Double)], triggers: Seq[(Long, Double)]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val passes = spans.filter(s => passIds.contains(s.id))
    val n = passes.size.max(1).toDouble
    def phaseOf(s: Span): Option[String] = ancestor(byId, s, Set("build", "action")).map(_.kind)
    val inPass = underPasses(spans, passIds)
    def of(kind: String) = inPass.filter(_.kind == kind)
    val jobs = of("job")
    val stagesRun = of("stage")
    val sqls = of("sql")
    def st(k: String): Double = stagesRun.map(_.counts.getOrElse(k, 0.0)).sum

    val wallMs = passes.map(_.dur).sum
    val jobUnionMs = passes.map(p => unionLength(jobs.map(j => (j.start, j.end)), p.start, p.end)).sum
    val gapMs = passes.map(p => gapLength(jobs.map(j => (j.start, j.end)), p.start, p.end)).sum
    val launchDelays = jobs.flatMap { j =>
      val launches = stagesRun.filter(_.parent == j.id).flatMap(_.counts.get("first_launch"))
      if (launches.isEmpty) None else Some(math.max(0.0, launches.min - j.start))
    }
    def inWindow(t: Long) = passes.exists(p => p.start <= t && t <= p.end)
    val blockBytes = blocks.filter(b => inWindow(b._1)).map(_._2).sum
    val trig = triggers.filter(t => inWindow(t._1)).map(_._2)
    val taskRunMs = st("task_run_ms")
    val nTasks = st("tasks")

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("build.s") = of("build").map(_.dur).sum / 1000 / n
    m("build.jobs") = jobs.count(j => phaseOf(j).contains("build")) / n
    m("action.s") = of("action").map(_.dur).sum / 1000 / n
    m("driver.gap_s") = gapMs / 1000 / n
    m("catalyst.analysis_ms") = sqls.map(_.counts.getOrElse("analysis_ms", 0.0)).sum / n
    m("catalyst.optimization_ms") = sqls.map(_.counts.getOrElse("optimization_ms", 0.0)).sum / n
    m("catalyst.planning_ms") = sqls.map(_.counts.getOrElse("planning_ms", 0.0)).sum / n
    m("catalyst.executions") = sqls.size / n
    m("sched.jobs") = jobs.size / n
    m("sched.stages") = stagesRun.size / n
    m("sched.tasks") = nTasks / n
    m("sched.tasks_per_job") = if (jobs.isEmpty) 0.0 else nTasks / jobs.size
    m("sched.job_s") = jobUnionMs / 1000 / n
    m("sched.launch_delay_ms") = median(launchDelays)
    m("exec.task_run_s") = taskRunMs / 1000 / n
    m("exec.task_cpu_s") = st("task_cpu_ns") / 1e9 / n
    m("exec.gc_s") = st("gc_ms") / 1000 / n
    m("exec.core_util") = if (wallMs <= 0) 0.0 else taskRunMs / (wallMs * cores)
    m("exec.single_task_s") =
      stagesRun.filter(_.counts.getOrElse("tasks", 0.0) == 1.0)
        .map(_.counts.getOrElse("task_run_ms", 0.0)).sum / 1000 / n
    m("io.input_records") = st("input_records") / n
    m("io.input_mb") = st("input_bytes") / MB / n
    m("io.output_mb") = st("output_bytes") / MB / n
    m("shuffle.write_mb") = st("shuffle_write_bytes") / MB / n
    m("shuffle.read_mb") = st("shuffle_read_bytes") / MB / n
    m("shuffle.fetch_wait_s") = st("fetch_wait_ms") / 1000 / n
    m("spill.mb") = st("spill_bytes") / MB / n
    m("cache.stored_mb") = blockBytes / MB / n
    m("stream.triggers") = trig.size / n
    m("stream.trigger_ms") = median(trig)
    // for the self-check, not a per-layer metric
    m("check.unparented_jobs") = spans.count(s => s.kind == "job" && s.parent == 0L)
    m.toMap
  }

  /** Figures taken independently of the span tree, for the self-check to
    * hold the derived metrics against: the harness's own clock around each
    * traced pass and query execution, and the jobs Spark's status store
    * (Spark's own listener) recorded inside the traced pass windows. Per-pass
    * means, as the metrics are.
    */
  def reference(passes: Seq[Span], passWallS: Seq[Double], queryWallS: Seq[Double],
      storeJobs: Seq[(Long, Long, Int)]): Map[String, Double] = {
    val n = passes.size.max(1).toDouble
    val inPass = storeJobs.filter { case (s, _, _) => passes.exists(p => p.start <= s && s <= p.end) }
    val ivs = inPass.map { case (s, e, _) => (s.toDouble, e.toDouble) }
    Map(
      "ref.pass_wall_s" -> passWallS.sum / n,
      "ref.query_wall_s" -> queryWallS.sum / n,
      "ref.jobs" -> inPass.size / n,
      "ref.tasks" -> inPass.map(_._3).sum / n,
      "ref.job_s" -> passes.map(p => unionLength(ivs, p.start, p.end)).sum / 1000 / n)
  }

  /** A copy of the span tree as a derivation that lost events would see it:
    * the longest job of the measured passes is gone with its stages, and the
    * longest build or action span ends halfway. The self-check derives the
    * metrics from it to show that its consistency checks catch such a loss.
    */
  def broken(spans: Seq[Span], passIds: Set[Long]): Seq[Span] = {
    val inPass = underPasses(spans, passIds)
    val job = inPass.filter(_.kind == "job").maxByOption(_.dur).map(_.id).toSet
    val phase = inPass.filter(s => s.kind == "build" || s.kind == "action").maxByOption(_.dur).map(_.id)
    spans.filterNot(s => job.contains(s.id) || job.contains(s.parent)).map { s =>
      val c = new Span(s.id, s.kind, s.name, s.start,
        if (phase.contains(s.id)) s.start + s.dur / 2 else s.end)
      c.parent = s.parent
      c.qid = s.qid
      c.counts ++= s.counts
      c
    }
  }

  /** Self time summed by span kind over the measured passes, in seconds. */
  def selfByKind(spans: Seq[Span], passIds: Set[Long]): Map[String, Double] = {
    val self = selfTimes(spans)
    val n = passIds.size.max(1).toDouble
    (underPasses(spans, passIds) ++ spans.filter(s => passIds.contains(s.id)))
      .groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1000 / n }
  }
}
