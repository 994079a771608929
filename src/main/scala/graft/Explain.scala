package graft

/** Plan inspection utility: prints the formatted physical plan for the
  * named queries (args = query names, or "all"; none means all).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftConf.session("graft-explain")
    val defs = if (args.contains("all")) SparkEntry.allDefs else SparkEntry.select(args.toSeq)
    defs.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try q.fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
