package graft.llm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.graft.MetricsBridge

/** Compute once: each corpus operator evaluates its text kernels and its
  * aggregates once per query. Three checks per query at sf0.001:
  *
  *  - the jobs one warm run starts (build phase plus the final collect)
  *    stay inside a recorded budget, so a second evaluation of an
  *    aggregate (a consumer that re-runs it instead of reading one
  *    exchange) shows up as extra jobs;
  *  - in the final adaptive plan, and in the build plans of the cached
  *    relations it reads, every graft kernel appears in at most one stage
  *    that is not a reused exchange, and at most once in that stage (a
  *    kernel copied into a pushed-down filter runs twice per row);
  *  - no two shuffle stages of that plan compute the same thing.
  *
  * A second test checks that the exchange simHash pairing shares between
  * its join sides is the join's own, which adaptive skew handling splits.
  */
class OnceGuardSpec extends graft.SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** Jobs of one warm run at sf0.001 on local[4], as measured. Before
    * each operator computed once: q34 5, q82 6, q134 8, q161 14.
    */
  private val jobBudget = Map(
    "q34_simhash_pairs" -> 5,
    "q82_repetition_stats" -> 3,
    "q134_minhash_lsh_portable" -> 6,
    "q161_bpe_temperature_mixture" -> 8)

  private val jobs = new java.util.concurrent.atomic.AtomicInteger()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** Collect `df` and return the jobs the build and the collect started. */
  private def countJobs(build: => DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    MetricsBridge.waitListenerBusEmpty(sc)
    jobs.set(0)
    val df = build
    df.collect()
    MetricsBridge.waitListenerBusEmpty(sc)
    (df, jobs.get())
  }

  /** The operators of every stage that runs: the result stage, each
    * non-reused query stage (cut at exchanges) and the build plan of each
    * cached relation read, once per relation. Each stage's first operator
    * is its root (an exchange, but for the result stage and cache builds).
    */
  private def stages(root: SparkPlan): Seq[Seq[SparkPlan]] = {
    val out = ArrayBuffer.empty[Seq[SparkPlan]]
    val seenCaches = new java.util.IdentityHashMap[AnyRef, Unit]()
    def stage(top: SparkPlan): Unit = {
      val ops = ArrayBuffer.empty[SparkPlan]
      def walk(p: SparkPlan): Unit = p match {
        case _: ReusedExchangeExec => ()
        case q: QueryStageExec => walk(q.plan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case e: Exchange if !(e eq top) => stage(e)
        case s: InMemoryTableScanExec =>
          ops += s
          val builder = s.relation.cacheBuilder
          if (!seenCaches.containsKey(builder)) {
            seenCaches.put(builder, ())
            stage(builder.cachedPlan)
          }
        case other =>
          ops += other
          other.children.foreach(walk)
      }
      walk(top)
      out += ops.toSeq
    }
    stage(root)
    out.toSeq
  }

  /** Per stage, each graft kernel's count of distinct occurrences per
    * operator, summed over the stage's operators. A scan's data filters
    * repeat the filter above it and are not counted.
    */
  private def kernelCensus(stages: Seq[Seq[SparkPlan]]): Seq[Map[String, Int]] =
    stages.map { ops =>
      ops.filterNot(_.isInstanceOf[DataSourceScanExec]).flatMap { op =>
        op.expressions.flatMap(_.collect {
          case k if k.getClass.getName.startsWith("graft.expressions.") => k
        }).distinctBy(_.canonicalized).map(_.prettyName)
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    }.filter(_.nonEmpty)

  /** Shuffle stages that compute the same thing: non-reused exchanges
    * whose plans print the same once expression, stage, codegen and plan
    * ids are dropped. (Their canonical plans differ when they read a
    * cached relation, which is also why the planner does not reuse them.)
    */
  private def repeatedExchanges(stages: Seq[Seq[SparkPlan]]): Seq[Int] =
    stages.map(_.head).collect { case e: ShuffleExchangeExec =>
      e.treeString.replaceAll("#\\d+L?|plan_id=\\d+|Stage \\d+|\\*\\(\\d+\\)", "")
    }.groupBy(identity).values.map(_.size).filter(_ > 1).toSeq

  /** The broken rules of one query, empty when it runs everything once. */
  private def check(name: String): Seq[String] = {
    val q = graft.SparkEntry.allDefs.find(_.name == name).get
    val s = graft.GraftConf.cloneSession(spark, 4)
    // the first run fills the caches a warm benchmark pass reads
    countJobs(q.fn(s, dir))
    val (df, n) = countJobs(q.fn(s, dir))
    val ran = stages(df.queryExecution.executedPlan)
    val census = kernelCensus(ran)
    val repeated = repeatedExchanges(ran)
    val twicePerStage = census.flatMap(_.filter(_._2 > 1))
    val stagesPerKernel = census.flatMap(_.keys).groupBy(identity)
      .collect { case (k, v) if v.size > 1 => k -> v.size }
    Seq(
      Option.when(twicePerStage.nonEmpty)(
        s"$name: kernels evaluated more than once in one stage: ${twicePerStage.mkString(", ")}"),
      Option.when(stagesPerKernel.nonEmpty)(
        s"$name: kernels evaluated in several stages: ${stagesPerKernel.mkString(", ")}"),
      Option.when(repeated.nonEmpty)(
        s"$name: shuffle stages computed more than once: ${repeated.mkString(", ")}"),
      Option.when(n > jobBudget(name))(s"$name: $n jobs in a warm run, budget ${jobBudget(name)}")
    ).flatten
  }

  test("corpus operators run each kernel and each aggregate once per query") {
    spark.sparkContext.addSparkListener(listener)
    val broken =
      try jobBudget.keys.toSeq.sorted.flatMap(check)
      finally spark.sparkContext.removeSparkListener(listener)
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("simHash pairing reads one reused join exchange that can still split a skewed key") {
    val s = graft.GraftConf.cloneSession(spark, 32)
    import s.implicits._
    // every even id is the same text: its four (band, chunk) keys each
    // hold 300 rows, in the blocks of every map task
    val docs = (0 until 600).map { i =>
      (i.toLong, if (i % 2 == 0) "the quick brown fox jumps over the lazy dog"
                 else s"document $i about topic ${i * 7919} and ${i % 13}")
    }.toDF("id", "text")
    def pairs(): (Set[org.apache.spark.sql.Row], SparkPlan) = {
      val df = Dedup.simHashPairs(docs, "id", "text", 3)
      (df.collect().toSet, df.queryExecution.executedPlan)
    }
    val (plain, plainPlan) = pairs()
    assert(plain.size >= 300 * 299 / 2)
    assert(collect(plainPlan) { case r: ReusedExchangeExec => r }.nonEmpty,
      "both join sides should read one exchange")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    val (split, splitPlan) = pairs()
    assert(collect(splitPlan) { case j: SortMergeJoinExec if j.isSkewJoin => j }.nonEmpty,
      "the skewed (band, chunk) keys should be split")
    assert(split === plain)
  }
}
