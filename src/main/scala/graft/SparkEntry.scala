package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator query group; each group pairs the Spark plan
  * with its DuckDB oracle SQL (QueryDef).
  */
object SparkEntry {

  /** All operator queries, grouped by SURVEY.md §2 domain. */
  def allDefs: Seq[QueryDef] =
    _root_.graft.queries.Registry.all

  /** The registry queries named in `names`, in registry order (all of them
    * when `names` is empty); any unknown name throws, listing them, so a
    * misspelled filter cannot pass by running nothing.
    */
  def select(names: Seq[String]): Seq[QueryDef] = {
    val unknown = names.filterNot(n => allDefs.exists(_.name == n))
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    if (names.isEmpty) allDefs else allDefs.filter(q => names.contains(q.name))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap
}
