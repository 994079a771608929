package graft.llm

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MetricsBridge
import scala.jdk.CollectionConverters._

/** Per-increment work of the additive-state stream (q158's unigram-drift
  * monitor): a warm run stays inside a recorded job budget, and every
  * increment after the first starts the same number of jobs however many
  * increments came before it.
  */
class IncrementBudgetSpec extends graft.SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Jobs of one warm q158 run at sf0.001 on local[4] (two triggers, then
    * the final collect), as measured. Before `accumulate` read its own
    * append back uncached and the KL became one exchange chain: 40.
    */
  private val q158Budget = 19

  /** The micro-batch id of each job started (None outside a stream). */
  private val jobBatches = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobBatches.add(Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))))
  }

  /** The batch id of every job `body` started, in start order. */
  private def jobsOf(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      MetricsBridge.waitListenerBusEmpty(sc)
      jobBatches.clear()
      body
      MetricsBridge.waitListenerBusEmpty(sc)
      jobBatches.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a warm q158 run stays inside its job budget") {
    val q = graft.SparkEntry.allDefs.find(_.name == "q158_stream_source_kl").get
    val s = graft.GraftConf.cloneSession(spark, 4)
    // the first run stages the slices a warm benchmark pass reads
    jobsOf(q.fn(s, dir).collect())
    val n = jobsOf(q.fn(s, dir).collect()).size
    assert(n <= q158Budget, s"q158: $n jobs in a warm run, budget $q158Budget")
  }

  test("unigramDriftStreaming starts the same jobs in every increment after the first") {
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val base = Files.createTempDirectory("graft_increment_budget_")
    /** `corpus` staged as `n` files, one per `doc_id` residue mod `n`,
      * with ascending mtimes: a file stream replays them as batches 0..n-1.
      */
    def staged(n: Int): String = {
      val out = base.resolve(s"staged_$n"); Files.createDirectories(out)
      for (p <- 0 until n) {
        val tmp = base.resolve(s"tmp_${n}_$p").toString
        corpus.filter(pmod(col("doc_id"), lit(n)) === p).coalesce(1).write.parquet(tmp)
        val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { st =>
          st.toArray.map(_.toString).find(_.endsWith(".parquet")).get
        }
        val dest = out.resolve(s"${('a' + p).toChar}.parquet")
        Files.copy(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis((1000000000L + 100L * p) * 1000))
      }
      out.toString
    }
    try {
      val perIncrement = for (n <- Seq(2, 4)) yield {
        val src = staged(n)
        val byBatch = jobsOf(TextAnalysis.unigramDriftStreaming(spark, src, corpus.schema,
            "source", "text", s"$base/state_$n", s"$base/out_$n", compactEvery = 1).collect())
          .flatten.groupBy(identity).map { case (b, js) => b.toLong -> js.size }
        assert(byBatch.keySet === (0L until n).toSet, s"$n slices")
        n -> (1L until n).map(byBatch)
      }
      val later = perIncrement.flatMap(_._2).distinct
      assert(later.size === 1, s"jobs of each increment after the first: ${perIncrement.mkString(", ")}")
    } finally graft.ops.Layout.deleteRecursively(base)
  }
}
