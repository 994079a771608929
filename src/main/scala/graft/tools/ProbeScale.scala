package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale measurement for the probe-pruned incremental near-dedup index:
  * ingest N history epochs, then run a trigger-sized increment two ways
  * on the SAME index — (a) `pruned`: the at-rest band family present
  * (bucket-pruned probe), (b) `legacy`: the band family removed,
  * forcing the derive-from-state fallback, which reads the FULL
  * signature index per increment exactly like the pre-round-14 layout.
  *
  * Measures BOTH wall time and task input bytesRead per increment
  * (InputBytesMeter). bytesRead is the honest scale signal: on warm
  * local NVMe the wall clocks sit near parity, but per-trigger IO must
  * track the BATCH (its bucket set + its candidates' hit epochs) while
  * the fallback's grows with history — the flat-vs-linear curve across
  * history sizes is the structural claim as a number.
  *
  * CONTROLLED corpus: documents are synthesized with per-(id, position)
  * md5 words, so history epochs are mutually distinct and the timed
  * batch is exactly 80% novel + 20% duplicates of ONE mid-history epoch
  * — a GenScale-replicated corpus is useless here (every batch doc
  * near-dups EVERY epoch, so both paths read all hash sets by
  * construction; measured and discarded).
  *
  * FAIRNESS: the index is snapshotted once after ingest and restored
  * before every timed pass, so each pass (and both configurations)
  * measures IDENTICAL index content.
  *
  * Usage: runMain graft.tools.ProbeScale <epochs> <docsPerEpoch>
  *          [passes] [batchRows] [compact]
  * `compact=true` runs nearDedupIndexCompact after ingest (the
  * maintained-index shape: history folded to one sentinel, bands
  * rebuilt bk-v1 for every epoch, state id-sorted) — the layout a
  * long-lived production index actually probes against.
  * Prints one JSON line.
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val epochs = args(0).toInt
    val docsPerEpoch = args(1).toInt
    val passes = if (args.length > 2) args(2).toInt else 3
    val batchRows = if (args.length > 3) args(3).toInt else 48
    val compact = args.length > 4 && args(4).toBoolean
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe-scale")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 40 distinct 8-hex words per doc (the test-fixture word-count shape)
    def synthDocs(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(39)),
          i => translate(substring(md5(concat(col("id").cast("string"), lit("_"),
            i.cast("string"))), 1, 8), "0123456789", "ghijklmnop")), " ")
          .as("text"))

    val dir = java.nio.file.Files.createTempDirectory("graft_probe_scale_").toString
    for (e <- 0 until epochs) {
      graft.llm.Dedup.nearDedupIncrement(
        synthDocs(e.toLong * docsPerEpoch, docsPerEpoch),
        "doc_id", "text", dir, 0.5, epoch = e).write.format("noop")
        .mode("overwrite").save()
      graft.ops.CacheRegistry.releaseAll()
    }
    if (compact) graft.llm.Dedup.nearDedupIndexCompact(spark, dir)
    // 80% novel + 20% dups of the middle epoch (fresh ids, copied text)
    val nDup = math.max(1, batchRows / 5)
    val dupSrc = (epochs / 2).toLong * docsPerEpoch
    val batch = synthDocs(1000L * 1000 * 1000, batchRows - nDup)
      .unionByName(synthDocs(dupSrc, nDup)
        .withColumn("doc_id", col("doc_id") + 2000L * 1000 * 1000))
      .persist()
    batch.count()

    // snapshot the ingested index once; every timed pass restores it
    val snap = dir + "_snap"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    def copyDir(from: String, to: String): Unit = {
      graft.ops.Layout.deleteRecursively(java.nio.file.Paths.get(to))
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from),
        fs, new org.apache.hadoop.fs.Path(to), false, hconf)
    }
    copyDir(dir, snap)

    // stripBands: remove the bands family STAMP -> the directory reads
    // as the retired layout, which the probe ignores and writers leave
    // alone (no self-healing backfill inside the timed pass) — the
    // derive-from-state fallback IS the old full-scan layout (same
    // candidates, same decisions; LlmSpec pins the equivalence).
    // Deleting the whole family instead would measure the increment's
    // one-time backfill repair, not the steady-state fallback.
    def timeIncrement(startEpoch: Long, stripBands: Boolean): (Double, Long) =
      (0 until passes).map { p =>
        copyDir(snap, dir)
        if (stripBands)
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(dir, "bands", graft.llm.StateFamily.StampFile))
        val t0 = System.nanoTime()
        // accurate variant: parquet vectored IO bypasses FS statistics
        // (footer-only counts) — see InputBytesMeter's scaladoc
        val (_, bytes) = graft.ops.InputBytesMeter.measureWithAccurateParquetIO(spark) {
          graft.llm.Dedup.nearDedupIncrement(batch, "doc_id", "text", dir, 0.5,
              epoch = startEpoch + p)
            .write.format("noop").mode("overwrite").save()
        }
        graft.ops.CacheRegistry.releaseAll()
        ((System.nanoTime() - t0) / 1e9, bytes)
      }.minBy(_._1)

    val (prunedSec, prunedBytes) = timeIncrement(1000, stripBands = false)
    val (legacySec, legacyBytes) = timeIncrement(2000, stripBands = true)

    def treeBytes(sub: String): Long = {
      val p = java.nio.file.Paths.get(dir, sub)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
    }
    // restore once more so the reported at-rest sizes are the snapshot's
    copyDir(snap, dir)
    val stateBytes = treeBytes("state")
    val bandsBytes = treeBytes("bands")
    println(s"""{"tool":"probe-scale","epochs":$epochs,"compacted":$compact,""" +
      s""""docs_per_epoch":$docsPerEpoch,"batch_rows":${batch.count()},""" +
      s""""state_bytes":$stateBytes,"bands_bytes":$bandsBytes,""" +
      s""""pruned_sec":$prunedSec,"legacy_sec":$legacySec,""" +
      s""""pruned_read_bytes":$prunedBytes,"legacy_read_bytes":$legacyBytes,""" +
      s""""sec_ratio":${legacySec / prunedSec},""" +
      s""""bytes_ratio":${legacyBytes.toDouble / math.max(1L, prunedBytes)}}""")
    graft.ops.Layout.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ops.Layout.deleteRecursively(java.nio.file.Paths.get(snap))
    spark.stop()
  }
}
