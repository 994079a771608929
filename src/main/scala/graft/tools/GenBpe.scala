package graft.tools

/** Regenerate the frozen BPE merge artifact
  * (src/main/resources/graft/bpe_merges.tsv) from a fixture directory —
  * training is deterministic, so re-running on the same fixture must
  * reproduce the checked-in file byte-for-byte (SubwordSpec enforces the
  * same property in-process).
  *
  * Usage: runMain graft.tools.GenBpe [sfDir] [numMerges] [outFile]
  */
object GenBpe {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val n = if (args.length > 1) args(1).toInt else 40
    val out = if (args.length > 2) args(2)
      else "src/main/resources/graft/bpe_merges.tsv"
    val spark = graft.GraftConf.session("graft-genbpe")
    val merges = graft.llm.Bpe.trainMerges(
      graft.Tables.documents(spark, src), "text", n)
    val body = merges.map { case (a, b) => s"$a\t$b" }.mkString("", "\n", "\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      body.getBytes("UTF-8"))
    println(s"wrote ${merges.length} merges to $out")
    spark.stop()
  }
}
