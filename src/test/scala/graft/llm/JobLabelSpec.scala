package graft.llm

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MetricsBridge
import graft.GraftConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The epoch-state verbs, the stream drain and the operators with
  * build-phase jobs describe their Spark jobs with the verb and what it
  * works on, and give the caller's description back afterwards.
  */
class JobLabelSpec extends graft.SparkSpec {

  private val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      descriptions.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty(GraftConf.JobDescription))).getOrElse("<none>"))
  }

  /** The descriptions of the jobs `body` started; the caller's description
    * must read the same after it.
    */
  private def labels(body: => Unit): Set[String] = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(GraftConf.JobDescription)
    MetricsBridge.waitListenerBusEmpty(sc)
    descriptions.clear()
    body
    MetricsBridge.waitListenerBusEmpty(sc)
    assert(sc.getLocalProperty(GraftConf.JobDescription) === before)
    descriptions.asScala.toSet
  }

  test("StateFamily verbs and EpochStream.drain label their jobs and restore the caller's label") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val base = Files.createTempDirectory("graft_job_labels")
    val path = s"$base/fam"
    def rows(epoch: Long) = spark.range(3).select((col("id") + epoch).as("k"), lit(epoch).as("v"))
    val fam = new StateFamily(spark, path, schema, FamilyLayout("labels-v1", Seq("k")))
    def verb(v: String) = s"StateFamily.$v $path"
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      assert(labels(fam.append(rows(0), 0L, nFiles = 1)) === Set(verb("append")))
      fam.append(rows(1), 1L, nFiles = 1)
      assert(labels(fam.compact(identity)) === Set(verb("compact")))
      // the probe's own count, then its append of the fresh keys
      assert(labels(fam.probeAppend(rows(5), 2L)(_.count())) ===
        Set(verb("probeAppend"), verb("append")))
      assert(labels(fam.land(rows(7).withColumn("epoch", lit(7L)), 1, Seq(7L))) ===
        Set(verb("land")))
      assert(labels(fam.replace(rows(9).withColumn("epoch", lit(9L)), 1)) === Set(verb("replace")))
      // the additive-count verb runs the snapshot under its own label; the
      // append and, every compactEvery-th epoch, the compact label theirs
      val countsPath = s"$base/counts"
      def counts(epoch: Long) = spark.range(3).select(col("id").as("k"), lit(epoch).as("c"))
      val additive = new StateFamily(spark, countsPath, counts(0).schema, StateFamily.Stream)
      def countsVerb(v: String) = s"StateFamily.$v $countsPath"
      assert(labels(additive.accumulate(counts(0), 0L, compactEvery = 2)(_.count())) ===
        Set(countsVerb("accumulate"), countsVerb("append")))
      assert(labels(additive.accumulate(counts(1), 1L, compactEvery = 2)(_.count())) ===
        Set(countsVerb("accumulate"), countsVerb("append"), countsVerb("compact")))
      // no snapshot due: the batch appends and nothing reads the family
      assert(labels(additive.accumulate(counts(2), 2L, compactEvery = 2, emit = false)(
        _ => fail("no snapshot is due"))) === Set(countsVerb("append")))
      val staged = s"$base/staged"
      (0L to 1L).foreach(e => rows(e).coalesce(1).write.mode("append").parquet(staged))
      val drained = labels(EpochStream.drain(spark, staged, schema, None) { (b, _) => b.count() })
      assert(drained === Set(s"EpochStream.drain $staged batch 0", s"EpochStream.drain $staged batch 1"))
      sc.setJobDescription(null)
      // no caller label: none is left behind
      assert(labels(fam.append(rows(10), 10L, nFiles = 1)) === Set(verb("append")))
      assert(sc.getLocalProperty(GraftConf.JobDescription) === null)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    graft.ops.Layout.deleteRecursively(base)
  }

  test("temperatureRates and nearDedupIncrement label their build-phase jobs") {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    val dir = Files.createTempDirectory("graft_job_labels_near")
    try {
      val tokens = spark.range(40).select(col("id"),
        (col("id") % 3).cast("string").as("source"), lit(5L).as("n"))
      assert(labels(Mixing.temperatureRates(tokens, "n", "source", 0.5, 50L)) ===
        Set("Mixing.temperatureRates by source"))
      val docs = spark.range(6).select(col("id"),
        concat(lit("the quick brown fox jumps over "), (col("id") % 2).cast("string")).as("text"))
      val near = labels(Dedup.nearDedupIncrement(docs, "id", "text", dir.toString, 0.5, 0L))
      val own = s"Dedup.nearDedupIncrement $dir epoch=0"
      assert(near.contains(own), near)
      // the verbs it calls label their own jobs; none runs under the caller's
      assert(near.forall(l => l == own || l.startsWith("StateFamily.")), near)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    graft.ops.Layout.deleteRecursively(dir)
  }

  test("tokenBudgetEpochs and pageRankExact label their build-phase jobs") {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val tokens = spark.range(40).select(col("id"),
        (col("id") % 3).cast("string").as("source"), lit(5L).as("n"))
      assert(labels(Mixing.tokenBudgetEpochs(tokens, "n", "source", 0.5, 300L, 2.0)) ===
        Set("Mixing.tokenBudgetEpochs by source"))
      val edges = spark.range(4).select(col("id").as("src"), ((col("id") + 1) % 4).as("dst"))
      // step 0 materializes the loop invariants, steps 1..3 the ranks
      assert(labels(Graphs.pageRankExact(edges, "src", "dst", spark.range(5).toDF(), "id", 3)) ===
        (0 to 3).map(i => s"Graphs.pageRankExact step $i").toSet)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
