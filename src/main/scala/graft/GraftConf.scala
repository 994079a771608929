package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Session configuration the engine's semantics depend on. Applied lazily at
  * query-construction time so it also takes effect under externally-created
  * sessions (the driver's Verify session).
  */
object GraftConf {
  /** What a graft main's session is built with; see [[sessionSettings]]. */
  final case class SessionSettings(master: String, cpus: Int, shufflePartitions: Int,
      executorMemory: String, executorClassPath: Option[String])

  /** The only reader of the session env vars: SPARK_GRAFT_CPUS (default:
    * the JVM's available processors), SPARK_GRAFT_MASTER (default
    * `local[cpus]`; `local-cluster[n,c,mb]` runs real executor JVMs),
    * SPARK_GRAFT_SHUFFLE_PARTITIONS (default cpus; the knob that scales
    * with data, so per-partition sort state does not grow with SF),
    * SPARK_GRAFT_EXEC_MEM (default 1g) and SPARK_GRAFT_EXEC_CP (executor
    * classpath, when set; sbt's target dir is not on Spark's own).
    */
  def sessionSettings(env: Map[String, String]): SessionSettings = {
    val cpus = positiveInt(env, "SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors)
    SessionSettings(
      master = env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      cpus = cpus,
      shufflePartitions = positiveInt(env, "SPARK_GRAFT_SHUFFLE_PARTITIONS").getOrElse(cpus),
      executorMemory = env.getOrElse("SPARK_GRAFT_EXEC_MEM", "1g"),
      executorClassPath = env.get("SPARK_GRAFT_EXEC_CP"))
  }

  /** A positive Int env var, None when unset; a malformed or non-positive
    * value throws naming the variable.
    */
  def positiveInt(env: Map[String, String], key: String): Option[Int] =
    env.get(key).map(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$key must be a positive int, got: '$v'")))

  /** The session every graft main starts with: [[sessionSettings]] applied,
    * UI off, log level WARN, then [[tune]].
    *
    * Spark's codegen cache is sized for local mode here, the only place a
    * static conf can go. It is keyed by (class loader, source), and in
    * local mode every whole-stage class is cached twice: under the
    * driver's loader (the validation compile) and under the executor's.
    * The five corpus queries' 65 distinct sources take 104 entries, more
    * than Spark's 100, so every warm pass recompiled some. `graft.Bench`
    * at sf0.01 on local[4]: those five, 4 passes, compiled a median 47
    * classes per warm pass at 100 entries and 0 at 1000; all 215 queries,
    * 2 passes, 4,521 and 3,102 in the warm pass. A constant, not an
    * option. The perfbench harness builds its own session, so this does
    * not move the benchmark.
    */
  def session(appName: String,
      settings: SessionSettings = sessionSettings(sys.env)): SparkSession = {
    val b = SparkSession.builder().master(settings.master).appName(appName)
      .config("spark.sql.shuffle.partitions", settings.shufflePartitions.toString)
      .config("spark.executor.memory", settings.executorMemory)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    val spark = settings.executorClassPath
      .fold(b)(cp => b.config("spark.executor.extraClassPath", cp)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
    spark
  }

  def tune(spark: SparkSession): Unit = {
    // minarrow masked semantics: div/rem by zero → NULL, overflow wraps
    // (src/enums/operators.rs:27-29; std.rs:41 WrappingAdd bounds) — that is
    // Spark's non-ANSI mode. Spark 4 defaults ANSI on, so switch it off.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // events.ts is parquet TIMESTAMP(NANOS), unsupported by Spark's reader:
    // read as Long nanos, normalized to µs in Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // native TIME(n) type (Spark 4.1, flag-gated) — the reference's
    // Time64(Microsecond) analog (ops/TimeOfDay.scala)
    spark.conf.set("spark.sql.timeType.enabled", "true")
    // InferFiltersFromGenerate synthesizes `isnotnull(g) AND size(g) > 0`
    // below every explode and predicate-pushdown then INLINES the
    // generator input into that filter — for this engine's computed
    // token/gram kernels over text (explode(ascii_tokens(text)) etc.,
    // the dominant generate shape here) that re-evaluates the whole
    // byte-scan kernel 1-2 extra times PER ROW, and the inferred filter
    // can never reach a parquet scan anyway (it guards a computed
    // expression, not a stored column). Measured on q82: the generate
    // branch ran the tokenizer 3× per row with the rule on, 1× with it
    // off. Scale-independent: the recompute grows with data, the
    // filter's benefit here is zero. (Stored-ARRAY-column generates,
    // where the inferred isnotnull could push to a scan, do not occur
    // on this engine's hot paths.)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // Spark keys its codegen cache by (classloader, source). With artifact
    // isolation on, every session — each cloneSession clone and the clone
    // every stream start makes — runs its tasks under its own executor
    // classloader, so each streaming operator call recompiled its
    // generated classes (q158: 62-70 of ~90 per call). Graft adds no
    // session artifacts, so its sessions share the default loader and the
    // compiled classes. Spark reads the flag at a session's first SQL
    // execution: cloneSession tunes a clone before it runs anything, and a
    // stream's clone copies this conf.
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // The `file` scheme through GraftLocalFs: Hadoop's local file system
    // minus its chmod/readlink process spawns. A JFR count over a whole
    // perfbench incremental run (seed 1, 7 q158 calls): 1,098 spawns
    // (699 chmod, 392 readlink), ~156 per call; 4 after, all JVM start
    // and shutdown. Spark copies session confs into every Hadoop conf it
    // makes (readers, writers, checkpoint managers, `hadoopConf` below). The
    // FileSystem cache is keyed by scheme, not class, so it is bypassed:
    // a stock instance cached before this ran would otherwise be served.
    spark.conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
  }

  /** The session's Hadoop conf: the context's `hadoopConfiguration` plus
    * every session conf, [[tune]]'s file-system keys among them. Graft's
    * own stamps, leases, listings and renames resolve their file system
    * here, so they use the same one as Spark's readers and writers.
    */
  def hadoopConf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()

  /** The file system of `path` under [[hadoopConf]]. */
  def fileSystem(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(hadoopConf(spark))

  /** The local property Spark describes a job with. */
  val JobDescription = "spark.job.description"

  /** Run `body` with [[JobDescription]] set to `label`, so its jobs (in
    * the UI, the event log, a listener's job start) name the operator
    * step instead of a call site; the caller's description is restored
    * after.
    */
  def withJobDescription[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** A Long-valued session conf: `default` when unset; a malformed value
    * throws naming its key instead of a bare NumberFormatException.
    */
  def longConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a long, got: '$v'")
      }
    }

  /** A session clone (shared SparkContext, own conf and catalog) with
    * `spark.sql.shuffle.partitions` set to `shufflePartitions`, so an
    * operator sizes its own shuffles without mutating the caller's
    * session. newSession() rebuilds SQLConf from the context's SparkConf,
    * DROPPING the runtime-set semantics confs (ANSI off, ns-as-long, …) —
    * they are re-applied here, before the clone runs anything (the
    * artifact-isolation flag in [[tune]] is read at the first execution).
    */
  def cloneSession(spark: SparkSession, shufflePartitions: Int): SparkSession = {
    val s2 = spark.newSession()
    tune(s2)
    s2.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s2
  }
}
