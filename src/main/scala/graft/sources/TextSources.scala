package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV / JSON-lines source+sink surface (SURVEY.md §2.10 — the engine's
  * at-rest format is parquet; these cover interchange with text-based
  * producers). Schema is always EXPLICIT (minarrow's fixed-schema stance,
  * §1.2 — never inferSchema: a schema inferred from data is a correctness
  * bug waiting for the first empty partition).
  */
object TextSources {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .schema(schema)
      .csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .json(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .schema(schema)
      .json(path)

  /** Quarantine-channel JSON-lines read: PERMISSIVE mode with an explicit
    * corrupt-record column — malformed lines arrive as rows whose data
    * columns are NULL and whose `_corrupt_record` holds the raw line,
    * instead of failing the job (FAILFAST) or vanishing (DROPMALFORMED).
    * The 100 TB ingest stance: a petabyte crawl WILL contain garbage
    * lines; the pipeline routes them to a quarantine sink and keeps
    * going. Returns (good rows, quarantined raw lines).
    */
  def readJsonLinesQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    // Spark requires caching/materialization before filtering on the
    // corrupt column alone (the parser must see the full row); the
    // registry bounds the cache's lifetime — the caller can't
    val withCorrupt = graft.ops.CacheRegistry.persist(spark.read
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .json(path))
    val good = withCorrupt.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = withCorrupt.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    (good, bad)
  }
}
