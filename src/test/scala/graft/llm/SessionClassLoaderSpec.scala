package graft.llm

import java.nio.file.Files

import graft.GraftConf
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Graft sessions share one task classloader, so Spark's codegen cache —
  * keyed by (classloader, source) — carries compiled classes from one
  * operator call to the next instead of recompiling them per session.
  */
class SessionClassLoaderSpec extends graft.SparkSpec {

  /** Identity of the context classloader a task of `s` runs under. */
  private def taskLoader(s: SparkSession): Int =
    s.range(1).map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))(
      Encoders.scalaInt).head()

  test("tasks of two cloneSession clones run under the same classloader") {
    assert(taskLoader(GraftConf.cloneSession(spark, 2)) ===
      taskLoader(GraftConf.cloneSession(spark, 2)))
  }

  test("tasks inside an EpochStream batch body run under the clones' classloader") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val staged = Files.createTempDirectory("graft_loader_staged").toString + "/in"
    spark.range(3).coalesce(1).write.parquet(staged)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    EpochStream.drain(spark, staged, schema, checkpointDir = None) {
      (batch, _) => seen += taskLoader(batch.sparkSession)
    }
    assert(seen.nonEmpty)
    assert(seen.toSet === Set(taskLoader(GraftConf.cloneSession(spark, 2))))
  }
}
