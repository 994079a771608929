package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data clustering — the multi-dimensional layout
  * operator a 100 TB table needs so that range predicates on SEVERAL
  * columns all prune files/row-groups. Sorting by one column gives perfect
  * pruning on it and none on the others; sorting by the interleaved-bit
  * z-value bounds every clustered dimension's min/max per file, so parquet
  * footer statistics skip most of the table for box queries on any subset
  * of the dimensions (the layout behind Delta/Iceberg OPTIMIZE ZORDER).
  *
  * The z-value is plain bit arithmetic over built-in expressions —
  * whole-stage-codegen'd, no UDF, and replayable as integer arithmetic in
  * any engine (the gate oracle recomputes it in DuckDB).
  */
object ZOrder {

  /** Interleave the low `bits` bits of each column: bit j of column i
    * lands at output position j*k + i (column 0 in the lowest lanes).
    * Inputs must already be non-negative ints < 2^bits — normalization
    * (rank, scale, clamp) is the caller's, because at scale the
    * normalization constants must come from ONE pass, not per-row work.
    * k * bits must fit a signed long (≤ 63).
    */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    val k = cols.size
    require(k >= 1, "zValue needs at least one column")
    require(k * bits <= 63, s"$k cols × $bits bits overflows a long")
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Rewrite a frame into a z-clustered layout: range-partition by
    * z-value into `numFiles` tasks (one range-sample pass — the standard
    * OPTIMIZE cost), sort within each, and drop the helper column. Each
    * output file then covers a compact z-range, i.e. a bounded box in
    * every clustered dimension.
    */
  def cluster(df: DataFrame, dims: Seq[Column], numFiles: Int, bits: Int = 16): DataFrame = {
    val z = "__graft_z"
    df.withColumn(z, zValue(dims, bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
  }

  /** cluster + parquet write (the OPTIMIZE ZORDER verb). */
  def clusterWrite(df: DataFrame, dims: Seq[Column], numFiles: Int, path: String,
      bits: Int = 16): Unit =
    cluster(df, dims, numFiles, bits).write.mode("overwrite").parquet(path)

  /** Partition-incremental OPTIMIZE ZORDER — the bounded-working-set form
    * of [[clusterWrite]] for tables that are already partitioned by a
    * column (date, region, shard): each `partCol=v` directory is
    * re-laid as its OWN job (read partition → per-partition quantile
    * cuts → z-sort → staged write → rename-swap), so the scratch/shuffle
    * working set is O(partition), never O(table). A whole-table
    * range-partition+sort needs ~3-4× the table in scratch at once —
    * the exact bill that cannot be paid at 100 TB (and measurably died
    * on disk at sf100 in this sandbox); per-partition jobs cap it at the
    * largest partition, which the table's partitioning already sized.
    * This is the Delta/Iceberg OPTIMIZE granularity.
    *
    * INCREMENTAL: the `_GRAFT_OPTIMIZED` marker records the file-name
    * SET the optimized layout consists of; a partition is skipped iff
    * its current data files equal that set (set equality, not mtimes —
    * an mtime check misses appends landing within the marker's
    * timestamp tick on coarse-granularity stores). Files appended
    * DURING a rewrite survive it: the swap rescues any retired file not
    * among the rewrite's recorded inputs back into the partition, where
    * the set check clusters it in on the next run.
    *
    * Crash contract (no transaction log, so the swap is two directory
    * renames): stage is written complete (with `_SUCCESS`) before any
    * rename; live is retired aside, stage renamed in, retired deleted.
    * Every crash window is self-healing — [[recoverOptimize]] runs first
    * on each call and completes or rolls back any interrupted swap from
    * the staged/retired directories, so no committed row is ever lost.
    *
    * Readers: like compaction-style maintenance everywhere, the swap
    * window (two renames) is not atomic for concurrent readers of that
    * one partition; schedule per-partition OPTIMIZE like any file-level
    * maintenance op.
    *
    * CONCURRENCY: `maxConcurrent` > 1 runs that many per-partition
    * rewrite jobs at once from a bounded driver pool (the Delta OPTIMIZE
    * shape for many-small-partition tables, where one partition's job
    * cannot saturate the cluster). The scratch bound becomes
    * maxConcurrent × largest-partition — still O(k · partition), never
    * O(table); concurrent jobs touch disjoint stage/retired/live
    * directories (keyed by partition name), so the swap choreography is
    * unchanged. Spark schedules concurrent actions from multiple driver
    * threads natively. A failure in any job propagates after the pool
    * drains its running jobs; interrupted swaps heal via
    * [[recoverOptimize]] exactly as in the serial form.
    *
    * Returns the partition directory names actually rewritten.
    */
  def optimizePartitioned(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, partCol: String, dims: Seq[String],
      filesPerPartition: Int, bits: Int = 8,
      maxPartitionsPerRun: Int = Int.MaxValue,
      maxConcurrent: Int = 1): Seq[String] = {
    require(filesPerPartition >= 1, s"filesPerPartition: $filesPerPartition")
    require(maxConcurrent >= 1, s"maxConcurrent: $maxConcurrent")
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = graft.GraftConf.fileSystem(spark, root)
    recoverOptimize(spark, tablePath)
    val parts = fs.listStatus(root).toIndexedSeq.map(_.getPath)
      .filter(_.getName.startsWith(partCol + "="))
    // staleness is SET-based, not mtime-based: the marker records the
    // file names the optimized layout consists of, and a partition is
    // stale iff its current data-file set differs. An mtime comparison
    // misses appends landing within the marker's filesystem timestamp
    // tick (coarse-granularity stores) — those files would stay
    // unclustered forever.
    val stale = parts.filter { p =>
      val files = fs.listStatus(p).map(_.getPath.getName).filter(isDataFile).toSet
      files.nonEmpty && files != readMarker(fs, p)
    }.sortBy(_.getName).take(maxPartitionsPerRun)
    val rewriteOne = (live: org.apache.hadoop.fs.Path) => {
      val name = live.getName
      val stage = new org.apache.hadoop.fs.Path(stageDir(tablePath), name)
      val retired = new org.apache.hadoop.fs.Path(retiredDir(tablePath), name)
      fs.delete(stage, true)
      fs.mkdirs(stage.getParent)
      // O(partition) job: read ONLY this partition's files; cuts, range
      // partitioning and sort all see one partition of rows. The rewrite
      // otherwise scans its input three times (quantile pass, range
      // sample, write) — persist for the job's duration; the cache is
      // itself bounded by the op's O(partition) working-set contract.
      // relErr 0.01: OPTIMIZE cuts only ROUTE rows to files — a slightly
      // uneven lane costs a few percent of file-size balance, while the
      // default 0.001 GK sketch was measured dominating the rewrite
      // (255 quantiles x 2 dims at 1e-3 precision per partition).
      // the rewrite reads EXACTLY the listed files (not the directory):
      // inputs == sources by construction, so a file landing between
      // listing and read can neither be half-rewritten nor double-
      // counted — anything not in this list is a late append the swap
      // rescues below
      val inputPaths = fs.listStatus(live).map(_.getPath)
        .filter(p => isDataFile(p.getName))
      val inputNames = inputPaths.map(_.getName).toSet
      CacheRegistry.during(spark.read.parquet(inputPaths.map(_.toString): _*)) { part =>
        clusterByQuantile(part, dims, filesPerPartition, bits, relErr = 0.01)
          .write.mode("overwrite").parquet(stage.toString)
      }
      // the inputs manifest travels with the stage into the live dir, so
      // BOTH the swap below and crash recovery can tell a rewritten-away
      // input from a file some concurrent writer appended mid-rewrite —
      // appends must survive the swap, not vanish with the retired copy
      writeLines(fs, new org.apache.hadoop.fs.Path(stage, InputsManifest), inputNames)
      val stageNames = fs.listStatus(stage).map(_.getPath.getName)
        .filter(isDataFile).toSet
      // staged-rename-then-delete (the compaction crash ordering): any
      // interruption below is healed by recoverOptimize on the next call
      fs.mkdirs(retired.getParent)
      fs.delete(retired, true)
      require(fs.rename(live, retired), s"retire rename failed for $name")
      require(fs.rename(stage, live), s"land rename failed for $name")
      rescueLateFiles(fs, retired, live, inputNames)
      fs.delete(retired, true)
      // marker = the REWRITTEN layout's file names only: a rescued late
      // file makes the current set differ, so the next run sees the
      // partition stale and clusters it in
      writeLines(fs, new org.apache.hadoop.fs.Path(live, OptimizedMarker), stageNames)
      name
    }
    if (maxConcurrent == 1 || stale.size <= 1) stale.map(rewriteOne)
    else {
      // bounded pool, not .par: pool size IS the scratch/concurrency
      // bound the docstring promises, independent of driver core count
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, stale.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          stale.map(p => scala.concurrent.Future(rewriteOne(p)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Heal any swap interrupted by a crash (see [[optimizePartitioned]]):
    * for each retired partition, if the live directory exists the swap
    * completed — drop the leftover; if not, land the completed stage
    * (`_SUCCESS` present) or roll the retired copy back. Leftover stages
    * for live partitions are discarded (re-optimized on a later pass).
    * Idempotent; called automatically, callable standalone.
    */
  def recoverOptimize(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = graft.GraftConf.fileSystem(spark, root)
    val retiredRoot = retiredDir(tablePath)
    val stageRoot = stageDir(tablePath)
    if (fs.exists(retiredRoot)) fs.listStatus(retiredRoot).foreach { r =>
      val name = r.getPath.getName
      val live = new org.apache.hadoop.fs.Path(root, name)
      val stage = new org.apache.hadoop.fs.Path(stageRoot, name)
      if (fs.exists(live)) {
        val manifest = new org.apache.hadoop.fs.Path(live, InputsManifest)
        if (fs.exists(manifest)) {
          // swap completed but the crash hit before the retired copy was
          // cleaned — rescue any mid-rewrite appends (the landed inputs
          // manifest says which retired files the rewrite covered)
          rescueLateFiles(fs, r.getPath, live, readLines(fs, manifest))
        } else {
          // live exists WITHOUT a landed manifest: the land rename never
          // completed — a concurrent append recreated the live directory
          // between the two renames, so live holds only stray files and
          // the retired copy holds the partition's only original rows.
          // Deleting retired here would silently lose committed rows
          // (while the stage sweep below also discards the rewrite).
          // Rescue every retired data file not already present in live:
          // file names are UUID-unique, so nothing collides, and the
          // rewrite's output still sits in stage (not live), so nothing
          // duplicates. The merged partition has no marker → stale →
          // re-clustered on the next run.
          val liveNames = fs.listStatus(live).map(_.getPath.getName)
            .filter(isDataFile).toSet
          rescueLateFiles(fs, r.getPath, live, liveNames)
        }
        fs.delete(r.getPath, true)
      } else if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"))) {
        require(fs.rename(stage, live), s"recovery land rename failed for $name")
        val manifest = new org.apache.hadoop.fs.Path(live, InputsManifest)
        if (fs.exists(manifest))
          rescueLateFiles(fs, r.getPath, live, readLines(fs, manifest))
        fs.delete(r.getPath, true)
      } else {
        require(fs.rename(r.getPath, live), s"recovery rollback rename failed for $name")
        fs.delete(stage, true)
      }
    }
    if (fs.exists(stageRoot)) fs.listStatus(stageRoot).foreach { s =>
      // stage leftovers whose live partition exists: an abandoned write
      // before any rename — safe to discard, live data is intact
      val live = new org.apache.hadoop.fs.Path(root, s.getPath.getName)
      if (fs.exists(live)) fs.delete(s.getPath, true)
    }
  }

  private val OptimizedMarker = "_GRAFT_OPTIMIZED"
  private val InputsManifest = "_GRAFT_INPUTS"
  private def stageDir(tablePath: String) =
    new org.apache.hadoop.fs.Path(tablePath, ".__graft_optimize_stage")
  private def retiredDir(tablePath: String) =
    new org.apache.hadoop.fs.Path(tablePath, ".__graft_optimize_retired")
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The optimized-layout file-name set recorded in a partition's
    * marker; empty when absent/unreadable (→ treated stale).
    */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      partDir: org.apache.hadoop.fs.Path): Set[String] =
    readLines(fs, new org.apache.hadoop.fs.Path(partDir, OptimizedMarker))

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] =
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .split("\n").map(_.trim).filter(_.nonEmpty).toSet
      catch { case scala.util.control.NonFatal(_) => Set.empty }
      finally in.close()
    }

  private def writeLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, names: Set[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(names.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Move data files a concurrent writer appended to the partition
    * DURING the rewrite (present in the retired copy but not among the
    * rewrite's inputs) back into the live directory — committed rows
    * must survive the swap, not vanish with the retired copy.
    */
  private def rescueLateFiles(fs: org.apache.hadoop.fs.FileSystem,
      retired: org.apache.hadoop.fs.Path, live: org.apache.hadoop.fs.Path,
      inputNames: Set[String]): Unit =
    if (fs.exists(retired))
      fs.listStatus(retired).map(_.getPath)
        .filter(p => isDataFile(p.getName) && !inputNames.contains(p.getName))
        .foreach { p =>
          require(fs.rename(p, new org.apache.hadoop.fs.Path(live, p.getName)),
            s"late-file rescue rename failed for ${p.getName}")
        }

  /** Equi-depth cutpoints for one dimension — the ONE-PASS normalization
    * constants the zValue docstring demands: 2^bits−1 approx quantiles
    * computed driver-side (Greenwald-Khanna sketch; bounded memory, one
    * scan), so any numeric distribution maps onto the full bit lane.
    */
  def quantileCuts(df: DataFrame, dim: String, bits: Int,
      relErr: Double = 0.001): Array[Double] = {
    require(bits >= 1 && bits <= 10,
      s"quantile normalization supports bits <= 10 (2^bits-1 cutpoints: the sketch pass and the rank CASE tree's codegen size are both O(2^bits)); got $bits")
    val lanes = 1 << bits
    val probs = (1 until lanes).map(_.toDouble / lanes).toArray
    df.stat.approxQuantile(dim, probs, relErr)
  }

  /** Rank of a value against precomputed cutpoints: |{cut <= v}| ∈
    * [0, 2^bits) — a BINARY-SEARCH CASE tree over the literal (sorted)
    * cut array: `bits` comparisons per row, fully whole-stage-codegen'd.
    * Array higher-order functions (filter/aggregate) are NOT codegen'd —
    * an HOF formulation ran ~2^bits interpreted lambda steps per row per
    * dim and was measured dominating a 6M-row OPTIMIZE end to end.
    * NULLs rank 0 (lowest lane, via three-valued logic: every comparison
    * is NULL, every branch falls to the low side), keeping them
    * clustered together.
    */
  def quantileRank(c: Column, cuts: Array[Double]): Column = {
    val v = c.cast("double")
    // rank in [lo, hi] — invariant: cuts(lo-1) <= v (when lo > 0) and
    // v < cuts(hi) (when hi < cuts.length)
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(lit(cuts(mid)) <= v, go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, cuts.length)
  }

  /** Z-cluster on quantile-NORMALIZED dimensions: every dim fills its
    * lane regardless of distribution or unit (the skew-proof form of
    * [[cluster]] — raw skewed dims would leave most of a lane empty and
    * give that dim no effective locality). All dims' cutpoints come from
    * ONE scan (the multi-column approxQuantile overload), so the whole
    * rewrite costs two passes regardless of dimension count.
    */
  def clusterByQuantile(df: DataFrame, dims: Seq[String], numFiles: Int,
      bits: Int = 8, relErr: Double = 0.001): DataFrame = {
    require(bits >= 1 && bits <= 10,
      s"quantile normalization supports bits <= 10; got $bits")
    val lanes = 1 << bits
    val probs = (1 until lanes).map(_.toDouble / lanes).toArray
    val allCuts = df.stat.approxQuantile(dims.toArray, probs, relErr)
    // materialize each rank ONCE per row before interleaving: zValue
    // references every dim expression `bits` times (one shift per bit),
    // and an inlined rank fold re-evaluates its 2^bits-step scan per
    // reference — measured 20× the whole rewrite's cost at sf1. A named
    // projection makes the interleave read attribute refs instead
    // (CollapseProject keeps multi-referenced non-trivial expressions
    // out of line).
    val rankCols = dims.indices.map(i => s"__graft_rank_$i")
    val withRanks = df.select(col("*") +:
      dims.zip(allCuts).zipWithIndex.map { case ((d, cuts), i) =>
        quantileRank(col(d), cuts).as(rankCols(i))
      }: _*)
    cluster(withRanks, rankCols.map(col), numFiles, bits)
      .drop(rankCols: _*)
  }
}
