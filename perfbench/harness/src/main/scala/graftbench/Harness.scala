package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.{QueryDef, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in one JVM: set-up (session plus a cold
  * pass), warm passes back to back for a fixed time, then untimed output
  * checks. With `--trace 1` the benchmark's listeners are installed for the
  * warm passes and the per-layer metrics and span file are written.
  *
  * Usage: Harness --workload NAME --queries q1,q2,.. --data DIR --out DIR
  *          --seconds N --seed N --trace 0|1 --cores N [--warmup-passes N] [--min-passes N]
  *          [--probe-mb N] [--self-check]
  *
  * Writes DIR/result.json (and with tracing, DIR/spans.jsonl); oracle
  * queries' check outputs go to DIR/check/<name> as parquet for the
  * DuckDB comparison done by the caller.
  */
object Harness {
  final case class Opts(workload: String, queries: Seq[String], data: String, out: String,
      seconds: Double, seed: Long, trace: Boolean, cores: Int, warmupPasses: Int, minPasses: Int,
      probeMb: Int, selfCheck: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "self-check") { kv(k) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"missing value for --$k"); kv(k) = args(i + 1); i += 2 }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      need("data"), need("out"), need("seconds").toDouble, need("seed").toLong,
      need("trace") == "1", need("cores").toInt, kv.getOrElse("warmup-passes", "1").toInt,
      kv.getOrElse("min-passes", "3").toInt,
      kv.getOrElse("probe-mb", "2").toInt,
      kv.contains("self-check"))
  }

  /** Benchmark-only entries the self-check adds to a workload: one that
    * always throws, which must be counted as failed and never filtered out,
    * and one without an oracle, which takes the signature check.
    */
  val SelfCheckQueries: Seq[QueryDef] = Seq(
    QueryDef.noOracle("graftbench_throws")((_, _) => throw new IllegalStateException("injected failure")),
    QueryDef.noOracle("graftbench_no_oracle")((s, _) =>
      s.range(0, 1000, 1, 3).selectExpr("id % 7 AS k", "id * id AS v")))

  /** Fixed-work pure-JVM loop (no Spark, no allocation), timed single-threaded:
    * the ratio of two runs' figures measures drift of the machine itself.
    */
  def calibrate(): Double = {
    var x = 0x9e3779b97f4a7c15L; var i = 0L; val n = 200000000L
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time of this JVM, all threads, in milliseconds. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** The machine's cumulative CPU counters (the `cpu` line of /proc/stat). */
  def hostCpu(): Option[Array[Long]] = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) None
    else Files.readAllLines(f).toArray.map(_.toString).find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).map(_.toLong))
  }

  /** Share of CPU time the hypervisor took away (steal) between two samples. */
  def stealFrac(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b if x.length > 7 && y.length > 7) yield {
      val d = y.zip(x).map { case (p, q) => p - q }
      val total = d.take(8).sum.toDouble
      if (total > 0) d(7) / total else 0.0
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return Double.NaN
    val line = Files.readAllLines(f).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  final case class Exec(name: String, qid: Long, pass: Int, phase: String, wallS: Double,
      buildS: Double, actionS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionReadyMs = System.currentTimeMillis().toDouble
    val calBefore = calibrate()

    val byName = SparkEntry.allDefs.map(q => q.name -> q).toMap
    val unknown = o.queries.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val defs = o.queries.map(byName) ++ (if (o.selfCheck) SelfCheckQueries else Nil)

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    var nextQid = 0L
    val execs = mutable.ArrayBuffer.empty[Exec]

    // `tr` is the tracer on traced passes only
    def runQuery(q: QueryDef, pass: Int, phase: String, tr: Option[Tracer],
        passSpan: Option[Span]): Unit = {
      nextQid += 1
      val qid = nextQid
      tr.foreach { _ =>
        sc.setLocalProperty(Tracer.QidKey, qid.toString)
        sc.setLocalProperty(Tracer.PhaseKey, "build")
      }
      val qs = tr.map(_.open("query", q.name, passSpan, qid))
      val bs = tr.map(_.open("build", q.name, qs, qid))
      var as: Option[Span] = None
      val t0 = System.nanoTime()
      var t1 = t0
      var err: Option[String] = None
      try {
        val df = q.fn(spark, o.data)
        t1 = System.nanoTime()
        tr.foreach { t =>
          bs.foreach(t.close)
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          as = Some(t.open("action", q.name, qs, qid))
        }
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      tr.foreach { t =>
        if (as.isEmpty) bs.foreach(t.close)
        as.foreach(t.close)
        qs.foreach(t.close)
        sc.setLocalProperty(Tracer.QidKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      execs += Exec(q.name, qid, pass, phase, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, err)
    }

    def order(pass: Int): Seq[QueryDef] = new Random(o.seed * 7919L + pass).shuffle(defs)

    val cpuMs = mutable.ArrayBuffer.empty[Double] // process CPU of each measured pass
    def runPass(pass: Int, phase: String, tr: Option[Tracer] = None): Double = {
      val passSpan = tr.map(_.open("pass", s"$phase $pass", None, 0L))
      val c0 = processCpuMs()
      val t0 = System.nanoTime()
      order(pass).foreach(q => runQuery(q, pass, phase, tr, passSpan))
      tr.foreach(t => passSpan.foreach(t.close))
      if (phase == "measured") cpuMs += processCpuMs() - c0
      (System.nanoTime() - t0) / 1e9
    }

    // set-up: session (above) plus the cold first pass
    val coldS = runPass(0, "cold")
    val setupS = (sessionReadyMs - jvmStartMs) / 1000 + coldS

    // JIT compilation keeps speeding the passes up after the cold one; the
    // warm-up passes are run but not measured
    val warmupS = (1 to o.warmupPasses).map(p => runPass(p, "warmup"))
    var pass = o.warmupPasses + 1

    // measured passes, back to back, at least `minPasses` (three, so the
    // median can drop one slow pass) and then until the measuring time is
    // used; another pass starts while it would end nearer that time than
    // stopping now.
    // With tracing, passes alternate untraced and traced: the tracing
    // overhead is the difference of their medians over the same stretch.
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    val cpuStat0 = hostCpu()
    var lastWall = 0.0
    def traced = o.trace && untracedWalls.size > passWalls.size
    while (passWalls.size < o.minPasses || (o.trace && untracedWalls.isEmpty) ||
        (System.nanoTime() - warmStart) / 1e9 + lastWall / 2 < o.seconds) {
      if (o.trace && !traced) {
        lastWall = runPass(pass, "untraced")
        untracedWalls += lastWall
      } else {
        tracer.foreach(_.install())
        lastWall = runPass(pass, "measured", tracer)
        passWalls += lastWall
        tracer.foreach(_.uninstall())
      }
      pass += 1
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val cpuStat1 = hostCpu()
    val rssMb = peakRssMb()
    val layers = tracer.map { t =>
      val spans = t.spans()
      val passSpans = spans.filter(_.kind == "pass")
      val ids = passSpans.map(_.id).toSet
      def derive(ss: Seq[Span]) = Layers.derive(ss, ids, o.cores, t.blockEvents, t.triggerEvents)
      val m = derive(spans) ++
        Map("trace.overhead_s" -> (Layers.median(passWalls.toSeq) - Layers.median(untracedWalls.toSeq)))
      val ref = Layers.reference(passSpans, passWalls.toSeq,
        execs.filter(_.phase == "measured").map(_.wallS).toSeq,
        org.apache.spark.GraftBenchBus.finishedJobs(sc))
      val broken = if (o.selfCheck) Some(derive(Layers.broken(spans, ids))) else None
      writeSpans(Paths.get(o.out, "spans.jsonl"), spans)
      (m, Layers.selfByKind(spans, ids), ref, broken)
    }

    // untimed output checks
    val checkStart = System.nanoTime()
    val checkDir = Paths.get(o.out, "check")
    Files.createDirectories(checkDir)
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    defs.foreach { q =>
      val res: Map[String, Any] =
        try {
          q.oracle match {
            case Some(sql) =>
              q.fn(spark, o.data).coalesce(1).write.mode("overwrite")
                .parquet(checkDir.resolve(q.name).toString)
              Map("kind" -> "oracle", "oracle" -> sql)
            case None =>
              val sigs = (1 to 2).map(_ => signature(q.fn(spark, o.data)))
              Map("kind" -> "signature", "rows" -> sigs.map(_._1), "hash" -> sigs.map(_._2))
          }
        } catch {
          case e: Throwable =>
            Map("kind" -> "error",
              "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      checks(q.name) = res
    }

    val checkS = (System.nanoTime() - checkStart) / 1e9
    val probe = if (o.trace) KernelProbe.run(spark, o.data, o.probeMb) else Map.empty[String, Double]
    val calAfter = calibrate()

    val conf = spark.conf
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "data" -> o.data,
      "queries" -> defs.map(_.name),
      "run" -> Map(
        "master" -> sc.master,
        "cores" -> o.cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "spark_version" -> spark.version,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "calibration_s" -> Seq(calBefore, calAfter)),
      "setup" -> Map("session_s" -> (sessionReadyMs - jvmStartMs) / 1000, "cold_pass_s" -> coldS,
        "setup_s" -> setupS),
      "warmup_pass_s" -> warmupS,
      "warm_s" -> warmS,
      "check_s" -> checkS,
      "untraced_pass_s" -> untracedWalls,
      "pass_s" -> passWalls,
      "pass_cpu_s" -> cpuMs.map(_ / 1000),
      "host_steal_frac" -> stealFrac(cpuStat0, cpuStat1),
      "peak_rss_mb" -> rssMb,
      "execs" -> execs.map(e => Map("name" -> e.name, "qid" -> e.qid, "pass" -> e.pass, "phase" -> e.phase,
        "wall_s" -> e.wallS, "build_s" -> e.buildS, "action_s" -> e.actionS, "error" -> e.error)),
      "checks" -> checks,
      "layers" -> layers.map(_._1),
      "self_s" -> layers.map(_._2),
      "reference" -> layers.map(_._3),
      "broken_layers" -> layers.flatMap(_._4),
      "kernel_probe" -> probe)
    Files.writeString(Paths.get(o.out, "result.json"), Json(record) + "\n")
    spark.stop()
  }

  /** Row count and an order-insensitive content hash of `df`: the sum, in
    * 38-digit decimals so it cannot overflow, of a 64-bit hash of each row's
    * JSON rendering.
    */
  def signature(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col).toIndexedSeq: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.sortBy(s => (s.start, s.id)).foreach { s =>
      w.write(Json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "qid" -> s.qid, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "counts" -> s.counts)))
      w.newLine()
    } finally w.close()
  }
}
