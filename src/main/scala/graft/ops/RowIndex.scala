package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed row-index primitive — the scale-safe positional building block
  * behind every op that needs the reference's "row i" semantics
  * (`RowSelection::r` /root/reference/src/traits/selection.rs:119,
  * `Table::insert_rows` table.rs:520, positional table zip
  * broadcast/table.rs:31).
  *
  * A naive `row_number().over(Window.orderBy(...))` funnels the whole table
  * through ONE task (Spark logs "No Partition Defined for Window operation").
  * This primitive is the distributed two-pass zipWithIndex instead:
  *
  *  1. `repartitionByRange(order)` + `sortWithinPartitions(order)` — ONE
  *     range shuffle and a local sort; partition k holds keys strictly
  *     below partition k+1, so partition ids are globally ordered.
  *  2. `monotonically_increasing_id()` — codegen'd: partition id in the
  *     upper bits, a per-partition row counter in the lower 33; in sorted
  *     partitions the lower bits ARE the local rank. (A pid-partitioned
  *     window here would insert a second full-data hash Exchange —
  *     measured in the physical plan — because range partitioning doesn't
  *     satisfy a ClusteredDistribution on pid.)
  *  3. per-partition row counts — a `groupBy(partition_id).count()` whose
  *     result is bounded by the PARTITION COUNT (32 here, a few thousand on
  *     a real cluster), never by data size; collected, turned into
  *     cumulative offsets, and added back as a broadcast literal map.
  *
  * The ranged input is persisted (MEMORY_AND_DISK) so the count pass and the
  * caller's action share one shuffle instead of recomputing lineage;
  * CacheRegistry bounds how many such caches stay pinned. Equal order-keys
  * land in one range partition, so counts are deterministic even with ties.
  * Limit: 2^33 rows per partition (the id's counter width) — size
  * numPartitions so partitions stay far below ~8.6e9 rows.
  */
object RowIndex {

  /** Append a 0-based contiguous row index under `order` as column `idxName`.
    * Scale shape: one range shuffle + one bounded (numPartitions-row) driver
    * collect; no single-partition stage, no second data shuffle.
    */
  private val pidCol = "__graft_pid"
  private val midCol = "__graft_mid"
  private val valCol = "__graft_val"

  /** Inputs up to this many rows take [[withRunningTotal]]'s single-task
    * fast path. The cap is deliberately a row COUNT, not bytes: it bounds
    * the single task's sort exactly.
    */
  private val FastPathMaxRows = 65536L

  /** Shared pass-1 scaffolding: range-shuffle + local sort + partition id,
    * persisted (the per-partition aggregate below and the caller's action
    * share one shuffle), plus cumulative prefix OFFSETS of a per-partition
    * quantity (`perPartition` row aggregate, e.g. count or sum) — bounded
    * by the PARTITION COUNT, never by data size.
    */
  private def rangedWithOffsets(
      df: DataFrame, order: Seq[Column], numPartitions: Int,
      perPartition: Column,
      postSort: DataFrame => DataFrame = identity): (DataFrame, Seq[(Int, Long)]) = {
    require(order.nonEmpty, "positional ops need explicit order keys (distributed tables have no inherent order)")
    val spark = df.sparkSession
    // numPartitions == 0 leaves the count UNPINNED (plain repartitionByRange):
    // AQE then coalesces adjacent range partitions to its advisory size, so a
    // small input collapses to a few tasks while a 100 TB one still fans out
    // to the full shuffle width — an explicit n would disable that coalesce.
    // Adjacent-merge preserves the global range order the id mint relies on.
    val ranged = CacheRegistry.persist(postSort((
        if (numPartitions > 0) df.repartitionByRange(numPartitions, order: _*)
        else df.repartitionByRange(order: _*))
      .sortWithinPartitions(order: _*))
      .withColumn(pidCol, spark_partition_id()))
    val perPart = ranged.groupBy(col(pidCol)).agg(perPartition.as("q"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = perPart.toSeq.map { case (pid, q) => val entry = (pid, acc); acc += q; entry }
    (ranged, offsets)
  }

  def withRowIndex(
      df: DataFrame,
      idxName: String,
      order: Seq[Column],
      numPartitions: Int = 0): DataFrame = {
    // Cost-based fast path, same decision rule as Spark's own broadcast
    // planning: when the caller didn't pin a partition count and the
    // optimizer's size estimate says the input is dimension-sized (under
    // autoBroadcastJoinThreshold), the two-pass shape is pure overhead —
    // its range-boundary sampling job and offsets job each cost more than
    // sorting the whole input in one task. coalesce(1) keeps it a single
    // narrow stage (no shuffle at all); the id mint on one sorted
    // partition IS the global index. Above the threshold (any real
    // corpus) the distributed two-pass path below is unchanged.
    if (numPartitions == 0) {
      val conf = df.sparkSession.sessionState.conf
      val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (conf.autoBroadcastJoinThreshold > 0 &&
          stats <= conf.autoBroadcastJoinThreshold) {
        require(order.nonEmpty, "positional ops need explicit order keys (distributed tables have no inherent order)")
        return df.coalesce(1).sortWithinPartitions(order: _*)
          .withColumn(idxName, monotonically_increasing_id())
      }
    }
    // the id must be minted AFTER the range shuffle + sort: its lower bits
    // are the per-SORTED-partition counter that serves as the local rank
    val (ranged, offsets) = rangedWithOffsets(
      df, order, numPartitions, count(lit(1)),
      postSort = _.withColumn(midCol, monotonically_increasing_id()))
    val offsetExpr =
      if (offsets.isEmpty) lit(0L)
      else element_at(
        map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*),
        col(pidCol))

    // local rank = the id's lower 33 bits (counter starts at 0 per partition)
    val localRank = col(midCol).bitwiseAND(lit((1L << 33) - 1))
    ranged
      .withColumn(idxName, offsetExpr + localRank)
      .drop(pidCol, midCol)
  }

  /** Append an INCLUSIVE running total of `value` under `order` as column
    * `totalName` (LONG) — the distributed prefix-sum sibling of
    * [[withRowIndex]], and the building block for sequence packing.
    *
    * Same two-pass shape: one range shuffle + local sort; per-partition
    * value TOTALS (a numPartitions-row aggregate) become broadcast prefix
    * offsets; the within-partition running sum is a single sequential scan
    * per sorted partition via `mapPartitions` — the genuinely-imperative
    * per-partition case (SURVEY §7.3 (d)), since a pid-partitioned window
    * would re-shuffle the data a second time. Project the input down to
    * slim columns before calling: the scan crosses the Row boundary.
    *
    * NULL values count as 0. Ties in `order` land in one partition, so
    * totals are deterministic up to tie order within equal keys — give a
    * total order (add an id tiebreak) for exact reproducibility.
    */
  def withRunningTotal(
      df: DataFrame,
      totalName: String,
      value: Column,
      order: Seq[Column],
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    require(order.nonEmpty, "positional ops need explicit order keys (distributed tables have no inherent order)")
    // Persist the input FIRST: repartitionByRange SAMPLES its child to
    // pick range boundaries, so the unpersisted form evaluated the whole
    // upstream lineage twice per call (measured round 16: q163's cutoff
    // input is the full corpus-scoring pipeline — its sampling pass alone
    // cost ~0.7 s at sf0.1). The count doubles as the cache fill and
    // gives the TRUE row count for the routing decision below — a
    // plan-stats estimate was tried first and measured unsafe (q69's
    // 594k-row counts frame estimated 4.1 MB and took the single-task
    // path, +19%; estimates above aggregates can't size their output).
    // Dimension-sized fast path (count unpinned only): on one sorted
    // partition the local running sum IS the global prefix sum — no
    // range exchange, no boundary sampling, no offsets job.
    val in = CacheRegistry.persist(df.withColumn(valCol, coalesce(value.cast("long"), lit(0L))))
    val rows = in.count()
    val (ranged, offsetSeq) =
      if (numPartitions == 0 && rows <= FastPathMaxRows) {
        // narrow lineage over the cached input — no second persist needed
        (in.coalesce(1).sortWithinPartitions(order: _*)
          .withColumn(pidCol, spark_partition_id()),
          Seq.empty[(Int, Long)])
      } else {
        // the offsets job materializes the ranged cache; every later
        // consumer reads it, so the input cache has served its purpose:
        // the call takes it over and frees it, on a throw too
        CacheRegistry.during(in)(
          rangedWithOffsets(_, order, numPartitions, coalesce(sum(col(valCol)), lit(0L))))
      }
    val bc = spark.sparkContext.broadcast(offsetSeq.toMap)

    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(totalName, org.apache.spark.sql.types.LongType, nullable = false))
    val valIdx = ranged.schema.fieldIndex(valCol)
    val pidIdx = ranged.schema.fieldIndex(pidCol)
    val rdd = ranged.rdd.mapPartitions { it =>
      var seeded = false
      var running = 0L
      it.map { r =>
        if (!seeded) { running = bc.value.getOrElse(r.getInt(pidIdx), 0L); seeded = true }
        running += r.getLong(valIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ running)
      }
    }
    spark.createDataFrame(rdd, schema).drop(valCol, pidCol)
  }
}
