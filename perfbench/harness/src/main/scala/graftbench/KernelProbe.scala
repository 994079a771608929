package graftbench

import graft.llm.{Bpe, Dedup, TextAnalysis}
import graft.ops.Strings
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Single-core throughput of the custom text kernels, called through their
  * public column functions over the workload's `documents.text` column
  * replicated to a fixed size and held in one cached partition.
  */
object KernelProbe {
  val kernels: Seq[(String, Column => Column)] = Seq(
    "text_stats" -> TextAnalysis.textStats,
    "repetition_stats" -> TextAnalysis.repetitionStats,
    "minhash_sig" -> (c => Dedup.minHashSignature(c)),
    "simhash64" -> Dedup.simHash,
    "shingle_tokens" -> (c => Dedup.shingles(c)),
    "nfc_normalize" -> Strings.nfcNormalize,
    "ascii_tokens" -> TextAnalysis.wordTokens,
    "bpe_count" -> (c => Bpe.countTokens(c)))

  def run(spark: SparkSession, data: String, mb: Int): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text")
      .collect().flatMap(r => Option(r.getString(0)))
    require(texts.nonEmpty, "documents.text is empty")
    val target = mb.toLong * 1024 * 1024
    val rows = Iterator.continually(texts.iterator).flatten
      .scanLeft((0L, "")) { case ((n, _), t) => (n + t.getBytes("UTF-8").length, t) }
      .drop(1).takeWhile(_._1 <= target).map(_._2).toVector
    val bytes = rows.map(_.getBytes("UTF-8").length.toLong).sum
    val schema = StructType(Seq(StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1), schema)
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    try kernels.map { case (name, k) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        df.select(k(col("text")).as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up: code generation and JIT
      s"kernel.$name.mb_per_s" -> bytes / 1048576.0 / math.min(once(), once())
    }.toMap
    finally df.unpersist()
  }
}
