package graft

import graft.llm.{Classify, FamilyLayout, StateFamily, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The epoch-partitioned state layout's contracts: the schema stamp checked
  * once per open, the epoch visibility rule, compaction, and the lease's
  * conf parsing.
  */
class StateFamilySpec extends SparkSpec {
  import spark.implicits._

  private val Plain = FamilyLayout("test-v1", sortCols = Seq("k"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_family_$tag").toString + "/fam"

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("stamp: reopening a family with another schema throws, naming the path and both schemas") {
    val path = tmp("schema")
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    new StateFamily(spark, path, a.schema, Plain).append(a, 0L, nFiles = 1)
    val b = Seq((1L, 2.0)).toDF("k", "w")
    val e = intercept[IllegalStateException] { new StateFamily(spark, path, b.schema, Plain) }
    assert(e.getMessage.contains(path), e.getMessage)
    assert(e.getMessage.contains(a.schema.catalogString), e.getMessage)
    assert(e.getMessage.contains(b.schema.catalogString), e.getMessage)
    // a different layout tag over the same schema is a different family too
    intercept[IllegalStateException] {
      new StateFamily(spark, path, a.schema, Plain.copy(tag = "test-v2"))
    }
    // nullability is not part of the stamp: a re-derived frame reopens
    val reopened = new StateFamily(spark, path,
      StructType(a.schema.map(_.copy(nullable = false))), Plain)
    assert(reopened.settled(1L).as[(Long, String)].collect().toSet === Set((1L, "x"), (2L, "y")))
  }

  private lazy val corpus = Seq((0L, "web", "the quick brown fox"),
    (1L, "books", "a slow green turtle"), (2L, "web", "quick quick fox jumps"),
    (3L, "books", "the turtle and the fox")).toDF("doc_id", "source", "text")

  /** A fresh base directory holding `corpus` staged as two parity files
    * with ascending forged mtimes: a file stream replays them as batches
    * 0 and 1.
    */
  private def stagedCorpus(tag: String): (String, java.nio.file.Path) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val base = Files.createTempDirectory(s"graft_family_${tag}_").toString
    val staged = Paths.get(base, "staged"); Files.createDirectories(staged)
    for (p <- 0 until 2) {
      val tmpDir = Paths.get(base, s"tmp$p").toString
      corpus.filter(pmod(col("doc_id"), lit(2)) === p).coalesce(1).write.parquet(tmpDir)
      val part = scala.util.Using.resource(Files.list(Paths.get(tmpDir))) { s =>
        s.toArray.map(_.toString).find(_.endsWith(".parquet")).get
      }
      val dest = staged.resolve(s"${('a' + p).toChar}.parquet")
      Files.copy(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis((1000000000L + 100 * p) * 1000))
    }
    (base, staged)
  }

  test("stamp: a streaming state directory reused by another operator throws instead of null-filling") {
    import java.nio.file.Paths
    val (base, staged) = stagedCorpus("reuse")
    val stateDir = s"$base/state"
    // NB training leaves (label, bucket, c) triplets, folded into a
    // sentinel generation below every epoch a later stream writes
    Classify.nbTrainStreaming(spark, staged.toString, corpus.schema, "source", "text",
      buckets = 16, alpha = 0.5, stateDir, s"$base/nb_out", compactEvery = 1).collect()
    // the drift monitor's settled read of (source, term, c) over those
    // files would read source/term as NULL; the stamp refuses it
    val e = intercept[Exception] {
      TextAnalysis.unigramDriftStreaming(spark, staged.toString, corpus.schema,
        "source", "text", stateDir, s"$base/drift_out").collect()
    }
    val msg = messages(e)
    assert(msg.contains(stateDir), msg)
    assert(msg.contains("struct<label:string,bucket:bigint,c:bigint>"), msg)
    assert(msg.contains("struct<source:string,term:string,c:bigint>"), msg)
    graft.ops.Layout.deleteRecursively(Paths.get(base))
  }

  test("stamp: a frozen run whose models/ holds another family's stamp throws") {
    import java.nio.file.Paths
    val (base, staged) = stagedCorpus("frozen")
    val models = s"$base/state/models"
    val other = Seq(("fox", 1L)).toDF("term", "c")
    new StateFamily(spark, models, other.schema, StateFamily.Stream).append(other, 0L)
    val e = intercept[Exception] {
      TextAnalysis.qualityQuantileStreamingFrozen(spark, staged.toString, corpus.schema,
        "doc_id", "text", q = 0.4, s"$base/state", s"$base/out").collect()
    }
    val msg = messages(e)
    assert(msg.contains(models), msg)
    assert(msg.contains("struct<term:string,c:bigint>"), msg)
    assert(msg.contains("struct<term:string,ct:bigint>"), msg)
    graft.ops.Layout.deleteRecursively(Paths.get(base))
  }

  test("a streaming operator whose stream wrote no snapshot returns its typed empty result") {
    val base = java.nio.file.Files.createTempDirectory("graft_family_nostream_")
    val staged = java.nio.file.Files.createDirectories(base.resolve("staged")).toString
    val schema = StructType(Seq(StructField("source", StringType), StructField("text", StringType)))
    val out = TextAnalysis.unigramDriftStreaming(spark, staged, schema, "source", "text",
      s"$base/state", s"$base/out")
    assert(out.collect().isEmpty)
    assert(out.schema.map(f => f.name -> f.dataType) === Seq("source" -> StringType,
      "n_tok" -> LongType, "kl" -> DoubleType, "batch_id" -> LongType))
    graft.ops.Layout.deleteRecursively(base)
  }

  test("stamp: unstamped data throws") {
    val path = tmp("unstamped")
    val df = Seq((1L, "x")).toDF("k", "v")
    df.withColumn("epoch", lit(0L)).write.partitionBy("epoch").parquet(path)
    val e = intercept[IllegalStateException] { new StateFamily(spark, path, df.schema, Plain) }
    assert(e.getMessage.contains(path) && e.getMessage.contains(StateFamily.StampFile))
    // compaction opens from the stamp, so unstamped data throws there too
    intercept[IllegalStateException] { StateFamily.stamped(spark, path, Plain) }
    assert(StateFamily.stamped(spark, tmp("absent"), Plain).isEmpty)
  }

  test("the data schema never carries the epoch column") {
    val withEpoch = Seq((1L, 0L)).toDF("k", "epoch")
    intercept[IllegalArgumentException] {
      new StateFamily(spark, tmp("epochcol"), withEpoch.schema, Plain)
    }
    val fam = new StateFamily(spark, tmp("epochapp"), Seq(1L).toDF("k").schema, Plain)
    intercept[IllegalArgumentException] { fam.append(withEpoch, 0L) }
  }

  test("opening, the stamp and the epoch listing run no Spark job") {
    val path = tmp("nojob")
    val df = Seq((1L, "x")).toDF("k", "v")
    new StateFamily(spark, path, df.schema, Plain).append(df, 0L, nFiles = 1)
    val sc = spark.sparkContext
    sc.setJobGroup("graft-family-open", "open")
    try {
      val fam = new StateFamily(spark, path, df.schema, Plain)
      assert(fam.exists && fam.epochs === Set(0L))
      fam.settled(1L) // plan construction only
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("graft-family-open").isEmpty)
  }

  test("settled hides the writer's own epoch; compaction folds settled epochs into a sentinel") {
    val path = tmp("compact")
    val schema = Seq((1L, 1L)).toDF("k", "c").schema
    val fam = new StateFamily(spark, path, schema, StateFamily.Stream)
    assert(fam.settled(0L).count() === 0L) // empty family reads empty
    for (e <- 0L until 3L) fam.append(Seq((1L, 1L), (e + 2, 1L)).toDF("k", "c"), e)
    // a re-run of epoch 2 replaces its own partition (additive counts)
    fam.append(Seq((1L, 1L), (4L, 1L)).toDF("k", "c"), 2L)
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum("c")).as[(Long, Long)].collect().toMap
    assert(sums(fam.settled(2L)) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    fam.compact(_.groupBy(col("k")).agg(sum(col("c")).as("c")))
    assert(fam.epochs === Set(-1L, 2L))
    assert(sums(fam.settled(2L)) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    assert(sums(fam.settled(3L)) === Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // a fold that changes the schema is refused before anything is written
    intercept[IllegalArgumentException] { fam.compact(_.withColumn("extra", lit(1))) }
    assert(fam.epochs === Set(-1L, 2L))
  }

  test("compaction to a one-file generation starts one Spark job and keeps every row sum") {
    val path = tmp("compact_one_job")
    val fam = new StateFamily(spark, path, Seq((1L, 1L)).toDF("k", "c").schema, Plain)
    for (e <- 0L until 3L)
      fam.append(Seq((1L, 1L), (e + 2, e + 1), (e + 5, 2L)).toDF("k", "c"), e, nFiles = 2)
    def sums() = fam.settled(3L).groupBy("k").agg(sum("c")).as[(Long, Long)].collect().toMap
    val before = sums()
    val sc = spark.sparkContext
    sc.setJobGroup("graft-family-compact", "compact")
    try fam.compact(identity) finally sc.clearJobGroup()
    // sized from the folded epochs' footers: the write is the only job
    assert(sc.statusTracker.getJobIdsForGroup("graft-family-compact").length === 1)
    assert(fam.epochs === Set(-1L, 2L))
    assert(new java.io.File(s"$path/epoch=-1").list().count(_.endsWith(".parquet")) === 1)
    assert(sums() === before)
  }

  test("accumulate: the snapshot sees settled plus batch counts; a re-run and compaction change no sum") {
    val fam = new StateFamily(spark, tmp("accumulate"), Seq(("a", 1L)).toDF("k", "c").schema,
      StateFamily.Stream)
    def run(epoch: Long, rows: (String, Long)*): Map[String, Long] = {
      var got = Map.empty[String, Long]
      fam.accumulate(rows.toDF("k", "c"), epoch, compactEvery = 2) { cum =>
        got = cum.as[(String, Long)].collect().toMap
      }
      got
    }
    assert(run(0L, "a" -> 1L, "b" -> 2L) === Map("a" -> 1L, "b" -> 2L))
    assert(run(1L, "a" -> 3L) === Map("a" -> 4L, "b" -> 2L))
    assert(fam.epochs === Set(-1L, 1L)) // epoch 1 closed a compaction cadence
    assert(run(2L, "c" -> 1L) === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // an at-least-once re-run of epoch 2 replaces it instead of adding
    assert(run(2L, "c" -> 5L) === Map("a" -> 4L, "b" -> 2L, "c" -> 5L))
    assert(fam.settled(3L).groupBy("k").agg(sum("c")).as[(String, Long)].collect().toMap ===
      Map("a" -> 4L, "b" -> 2L, "c" -> 5L))
    intercept[IllegalArgumentException] {
      new StateFamily(spark, tmp("accumulate_plain"), Seq(("a", 1L)).toDF("k", "c").schema, Plain)
        .accumulate(Seq(("a", 1L)).toDF("k", "c"), 0L, compactEvery = 0)(_ => ())
    }
  }

  test("index lease: a malformed TTL names its conf key") {
    val key = "spark.graft.index.leaseTtlMs"
    spark.conf.set(key, "30min")
    try {
      val e = intercept[IllegalArgumentException] {
        StateFamily.withLease(spark, tmp("lease"), "probe") { () }
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("30min"), e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("index lease: a refusal names the directory, the refused op and the holder") {
    val dir = tmp("refusal")
    val e = StateFamily.withLease(spark, dir, "compact epoch=7") {
      intercept[IllegalStateException] {
        StateFamily.withLease(spark, dir, "increment epoch=8") { () }
      }
    }
    val msg = e.getMessage
    assert(msg.contains("locked") && msg.contains(dir), msg)
    assert(msg.contains("increment epoch=8") && msg.contains("compact epoch=7"), msg)
  }

  /** A stale lease at `hookfs://` plus the racer that `hook` plays between
    * this writer's age check and its steal rename. Returns what the writer
    * did, the lock file's content after, and any tombstones left.
    */
  private def stealRace(tag: String)(
      hook: (java.nio.file.Path, Int) => Option[Boolean]): (String, Option[String], Seq[String]) = {
    import java.nio.file.{Files, Path => JPath}
    val local = java.nio.file.Files.createTempDirectory(s"graft_lease_$tag")
    val lock = local.resolve(StateFamily.LockFile)
    Files.write(lock, "crashed holder".getBytes("UTF-8"))
    lock.toFile.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    var renames = 0
    HookedLocalFs.onRename = (src, _) =>
      if (src.getName != StateFamily.LockFile && !src.getName.contains(".stale.")) None
      else { renames += 1; hook(lock, renames) }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.hookfs.impl", classOf[HookedLocalFs].getName)
    hc.setBoolean("fs.hookfs.impl.disable.cache", true)
    spark.conf.set("spark.graft.index.leaseTtlMs", "60000")
    val outcome =
      try { StateFamily.withLease(spark, s"hookfs://$local", "probe") { "ran" } }
      catch { case e: IllegalStateException if e.getMessage.contains("locked") => "locked" }
      finally {
        spark.conf.unset("spark.graft.index.leaseTtlMs")
        HookedLocalFs.onRename = (_, _) => None
      }
    val content = if (Files.exists(lock)) Some(new String(Files.readAllBytes(lock), "UTF-8")) else None
    val tombs = scala.util.Using.resource(Files.list(local)) { s =>
      s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).filter(_.contains(".stale.")).toSeq
    }
    (outcome, content, tombs)
  }

  /** The racer: it stole the stale lease first and re-acquired — its fresh
    * lock replaces the stale one before this writer's rename runs.
    */
  private def racerReacquires(lock: java.nio.file.Path): Unit = {
    java.nio.file.Files.delete(lock)
    java.nio.file.Files.write(lock, "winner".getBytes("UTF-8"))
  }

  test("index lease: a steal that renamed the racer's fresh lease hands it back and reports locked") {
    val (outcome, content, tombs) = stealRace("handback") { (lock, n) =>
      if (n == 1) racerReacquires(lock)
      None
    }
    assert(outcome === "locked")
    assert(content === Some("winner"))
    assert(tombs.isEmpty, tombs)
  }

  test("index lease: a failed hand-back deletes the tombstone instead of leaking it") {
    val (outcome, content, tombs) = stealRace("thirdracer") { (lock, n) =>
      if (n == 1) { racerReacquires(lock); None }
      else {
        // a third writer acquired in the lock-free window; the hand-back
        // fails the way HDFS's rename onto an existing file does
        java.nio.file.Files.write(lock, "third".getBytes("UTF-8"))
        Some(false)
      }
    }
    assert(outcome === "locked")
    assert(content === Some("third"))
    assert(tombs.isEmpty, tombs)
  }

  test("index lease: with no racer the stale lease is stolen and the body runs") {
    val (outcome, content, tombs) = stealRace("nosteal")((_, _) => None)
    assert(outcome === "ran")
    assert(content === None) // released on exit
    assert(tombs.isEmpty, tombs)
  }
}

/** The local filesystem under the scheme `hookfs`, with a hook that runs
  * before every rename and may replace its result.
  */
class HookedLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hookfs:///")
  override def getScheme: String = "hookfs"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    HookedLocalFs.onRename(src, dst).getOrElse(super.rename(src, dst))
}

object HookedLocalFs {
  @volatile var onRename: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Option[Boolean] =
    (_, _) => None
}
