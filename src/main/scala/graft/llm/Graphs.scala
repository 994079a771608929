package graft.llm

import graft.ops.CacheRegistry
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
    // Loop invariants (ids, e, outdeg) are held for the call: every
    // iteration joins against them, and the returned ranks are
    // materialized before they are released (a recompute after a later
    // eviction of the RESULT frame rebuilds them on demand — correct,
    // just slower).
    CacheRegistry.during(nodes.select(col(idCol).cast("long").as("id")).distinct()) { ids =>
      CacheRegistry.during(edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))) { e =>
        // node count: a bounded metadata pass (the tokenBudgetEpochs
        // convention) — every divisor below is a literal thereafter
        val n = ids.count()
        require(n > 0, "empty node universe")
        CacheRegistry.during(e.groupBy(col("src")).agg(count(lit(1)).as("d"))) { outdeg =>
          val base = Math.floorDiv(Math.floorDiv(15L * Scale, 100L), n)
          // NOTE (round-15 optimization attempts, both REVERTED with
          // measurements — this step is shaped by the planner's broadcast
          // choice, and "obvious" restructures defeat it):
          //  1. persisting a shared pr⋈outdeg frame + materializing the
          //     dangling scalar as a literal added a cache barrier and a
          //     driver action per iteration: q196 2.62 -> 4.14 s at sf0.1;
          //  2. computing the per-SOURCE contribution on the |nodes|-row
          //     join output and attaching it to edges with ONE join replaced
          //     e⋈(cached pr, accurate stats ⇒ auto-broadcast) with
          //     e⋈(filtered join output, inflated size estimate ⇒ sort-merge
          //     that shuffles the edges every iteration): 2.62 -> 3.53 s.
          // The original two-join form keeps both rank-side joins broadcast
          // at dimension scale and planner-chosen (SMJ) beyond it.
          def step(pr: DataFrame): DataFrame = {
            val withDeg = pr.join(outdeg, pr("id") === outdeg("src"), "left")
            val dangling = withDeg.filter(col("d").isNull)
              .agg(coalesce(sum(col("pr_u")), lit(0L)).as("dm")) // 1 row
            val contrib = e.join(pr, e("src") === pr("id"))
              .join(outdeg, "src")
              .select(col("dst").as("id"),
                idiv(idiv(col("pr_u") * 85, lit(100)), col("d")).as("c"))
              .groupBy(col("id")).agg(sum(col("c")).as("contrib"))
            // materialized BEFORE the caller drops the predecessor
            val next = CacheRegistry.persist(ids.join(contrib, Seq("id"), "left")
              .crossJoin(broadcast(dangling))
              .select(col("id"),
                (lit(base) + coalesce(col("contrib"), lit(0L)) +
                  idiv(idiv(col("dm") * 85, lit(100)), lit(n))).as("pr_u")))
            next.count()
            next
          }
          // Each step reads the previous ranks TWICE (dangling-mass aggregate
          // + contribution join). Every iteration's ranks are cached, and the
          // next step takes the predecessor over and frees it once the successor
          // is materialized — otherwise iteration i's plan re-executes iteration
          // i−1's full lineage twice, i.e. ~2^iters total recomputation on an
          // uncached chain (crawl-scale killer). Only the returned ranks keep a
          // registry slot.
          val uniform = ids.select(col("id"), lit(Math.floorDiv(Scale, n)).as("pr_u"))
          (2 to iters).foldLeft(step(uniform))((pr, _) => CacheRegistry.during(pr)(step))
        }
      }
    }
  }
}
