package graft.llm

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl prioritization (the step above the
  * q177 outlink graph: which pages/domains to fetch or keep first).
  *
  * PageRank here is EXACT-INTEGER: ranks are nano-scaled longs and every
  * per-edge contribution is floor-division arithmetic, so all sums are
  * order-independent — the result is bit-identical on any engine, any
  * partitioning, any addition order (the q165 fixed-point argument
  * applied to power iteration; a double formulation's per-ulp wobble
  * would break hash verification and cross-run reproducibility). The
  * truncation deliberately LEAKS a few units of mass per node per
  * iteration — bounded by nodes·iters nano-units, irrelevant at rank
  * scale and a price happily paid for determinism.
  *
  * 100 TB shape: edges are partitioned by src and reused across
  * iterations; each iteration is one edge⋈rank join + one dst-keyed
  * aggregate (map-side combined) + one broadcast of the two scalar
  * frames (dangling mass, node count) — ranks never collect to the
  * driver. `iters` is small and fixed (crawl schedulers run 2-5 power
  * steps on the frontier graph).
  */
object Graphs {

  private val Scale = 1000000000000L

  /** Exact nonneg integer floor division as a Column (both operands
    * long, quotient < 2^53 — the subtraction makes the double division
    * exact).
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** `iters` power-iteration steps of damping-0.85 PageRank over
    * (srcCol, dstCol) edges and the `idCol` node universe, in exact
    * integer nano-units (divide by 1e12 for the probability). Dangling
    * nodes' mass redistributes uniformly; every node appears in the
    * output. Returns (id, pr_u).
    */
  def pageRankExact(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, idCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one power step: $iters")
    val spark = edges.sparkSession
    // Every frame the loop reads is an eager local checkpoint, as in
    // Bpe.trainMerges: each step's plan is one step deep over
    // materialized leaves, and its jobs run under the step's label.
    // Spark's ContextCleaner frees a superseded step's blocks once the
    // driver garbage-collects its RDD. Step 0 materializes the loop
    // invariants and counts the nodes, so every divisor below is a literal.
    val (ids, e, outdeg, n) = GraftConf.withJobDescription(spark, "Graphs.pageRankExact step 0") {
      val ids = nodes.select(col(idCol).cast("long").as("id")).distinct().localCheckpoint(true)
      val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).localCheckpoint(true)
      (ids, e, e.groupBy(col("src")).agg(count(lit(1)).as("d")).localCheckpoint(true), ids.count())
    }
    require(n > 0, "empty node universe")
    val base = Math.floorDiv(Math.floorDiv(15L * Scale, 100L), n)
    // NOTE (round-15 optimization attempts, both REVERTED with
    // measurements — this step is shaped by the planner's broadcast
    // choice, and "obvious" restructures defeat it):
    //  1. persisting a shared pr⋈outdeg frame + materializing the
    //     dangling scalar as a literal added a cache barrier and a
    //     driver action per iteration: q196 2.62 -> 4.14 s at sf0.1;
    //  2. computing the per-SOURCE contribution on the |nodes|-row
    //     join output and attaching it to edges with ONE join replaced
    //     e⋈(ranks, accurate stats ⇒ auto-broadcast) with
    //     e⋈(filtered join output, inflated size estimate ⇒ sort-merge
    //     that shuffles the edges every iteration): 2.62 -> 3.53 s.
    // The original two-join form keeps both rank-side joins broadcast
    // at dimension scale and planner-chosen (SMJ) beyond it.
    def step(pr: DataFrame, i: Int): DataFrame = {
      val withDeg = pr.join(outdeg, pr("id") === outdeg("src"), "left")
      val dangling = withDeg.filter(col("d").isNull)
        .agg(coalesce(sum(col("pr_u")), lit(0L)).as("dm")) // 1 row
      val contrib = e.join(pr, e("src") === pr("id"))
        .join(outdeg, "src")
        .select(col("dst").as("id"),
          idiv(idiv(col("pr_u") * 85, lit(100)), col("d")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("contrib"))
      GraftConf.withJobDescription(spark, s"Graphs.pageRankExact step $i") {
        ids.join(contrib, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            (lit(base) + coalesce(col("contrib"), lit(0L)) +
              idiv(idiv(col("dm") * 85, lit(100)), lit(n))).as("pr_u"))
          .localCheckpoint(true)
      }
    }
    val uniform = ids.select(col("id"), lit(Math.floorDiv(Scale, n)).as("pr_u"))
    (1 to iters).foldLeft(uniform)(step)
  }
}
