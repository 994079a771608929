package graft.ops

import org.apache.spark.sql.SparkSession

/** Task-input-bytes measurement: run a block and report how many bytes
  * its Spark tasks actually READ (task `inputMetrics.bytesRead`, summed
  * across every task that ends while the block runs). This is the number
  * that turns an "the scan prunes row groups" PLAN claim into measured
  * IO — wall time on warm local NVMe cannot distinguish a pruned scan
  * from a cached full scan, bytesRead can.
  *
  * Single-measurement-at-a-time by contract: the listener sees every
  * task on the SparkContext, so concurrent unrelated jobs would pollute
  * the count (fine in specs, the only callers).
  */
object InputBytesMeter {

  /** Returns (block result, total task input bytesRead during the block). */
  def measure[T](spark: SparkSession)(body: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) bytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      // listener events are delivered async — drain the bus before
      // reading the counter or trailing task-ends are silently missed
      org.apache.spark.sql.graft.MetricsBridge
        .waitListenerBusEmpty(spark.sparkContext)
      (r, bytes.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** [[measure]] with ACCURATE parquet accounting: parquet's Hadoop
    * vectored IO (`parquet.hadoop.vectored.io.enabled`, default on in
    * parquet ≥ 1.14) issues page reads through `readVectored`, which
    * bypasses `FileSystem.Statistics` — bytesRead then counts only
    * footers (measured: a 265 KB epoch directory reported 6 KB). This
    * variant disables vectored IO for the block so page reads flow
    * through the counted stream path, and restores the setting after.
    * The byte TOTALS are the same data either way; only the accounting
    * differs.
    */
  def measureWithAccurateParquetIO[T](spark: SparkSession)(body: => T): (T, Long) = {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "parquet.hadoop.vectored.io.enabled"
    val prev = hc.get(key)
    hc.setBoolean(key, false)
    try measure(spark)(body)
    finally if (prev == null) hc.unset(key) else hc.set(key, prev)
  }
}
