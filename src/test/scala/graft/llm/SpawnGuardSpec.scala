package graft.llm

import java.nio.file.Files

import graft.GraftConf
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The file work of an epoch-state streaming call starts no operating
  * system process on a tuned session. Hadoop's local file system forks
  * `chmod` per created file and directory and `readlink` per link-status
  * check; graft's (GraftLocalFs) sets the bits in-process.
  */
class SpawnGuardSpec extends graft.SparkSpec {

  /** The command lines of the processes this JVM started while `body`
    * ran, from an in-process JFR recording of `jdk.ProcessStart`.
    */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getValue[AnyRef]("command"))).toSeq
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("a tuned session's state appends, compaction, a two-file drain and a parquet write spawn nothing") {
    val s = GraftConf.cloneSession(spark, 2)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val base = Files.createTempDirectory("graft_spawn_guard")
    def rows(epoch: Long) = s.range(4).select((col("id") + epoch * 10).as("k"), lit(epoch).as("v"))
    def work(tag: String): Unit = {
      val fam = new StateFamily(s, s"$base/$tag/fam", schema, FamilyLayout("spawn-v1", Seq("k")))
      (0L to 2L).foreach(e => fam.append(rows(e), e, nFiles = 1))
      fam.compact(identity)
      val staged = s"$base/$tag/staged"
      (0L to 1L).foreach(e => rows(e).coalesce(1).write.mode("append").parquet(staged))
      var batches = 0
      EpochStream.drain(s, staged, schema, Some(s"$base/$tag/checkpoint")) { (b, _) =>
        b.count(); batches += 1
      }
      assert(batches === 2)
      rows(5).write.parquet(s"$base/$tag/plain")
    }
    work("warm") // one-time class initialisation may spawn; it is not per call
    // Spark deletes a collected session's artifact directory with `rm -rf`
    // (JavaUtils.deleteRecursively on Unix) from a GC-driven cleaner: a
    // session lifetime cost that lands in whichever window the collector
    // runs, not file work of the calls measured here
    val cmds = spawns(work("measured"))
      .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(cmds.isEmpty, s"${cmds.size} process spawns: ${cmds.take(5).mkString("; ")}")
    graft.ops.Layout.deleteRecursively(base)
  }
}
