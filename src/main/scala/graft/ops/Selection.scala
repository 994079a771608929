package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Selection / projection / slicing surface (minarrow feature `select`,
  * SURVEY.md §2.7: `ColumnSelection::c`, `RowSelection::r`,
  * src/traits/selection.rs:87,119; zero-copy views = lazy plans).
  *
  * Positional row semantics need a defined order — the reference operates on
  * in-memory tables with inherent order; a distributed table has none, so
  * every row-selection takes explicit order keys (SURVEY.md §7.4.4) and
  * stays opt-in: at 100 TB a global sort is real cost, while column
  * selection (`c`) is free projection pruning.
  */
final case class GraftTable(df: DataFrame) {

  /** Column selection by name — `table.c(&["a","b"])`, selection.rs:87. */
  def c(names: String*): GraftTable = GraftTable(df.select(names.map(col): _*))

  /** Column selection by position, `FieldSelector` index impls :142-316. */
  def cIdx(indices: Int*): GraftTable = {
    val cols = df.columns
    GraftTable(df.select(indices.map(i => col(cols(i))): _*))
  }

  /** Column selection by range. */
  def cRange(r: Range): GraftTable = cIdx(r: _*)

  /** Contiguous row range [start, end) under `order` — RowSelection::r with
    * the contiguity fast path (selection.rs:119,51). Compiles to
    * sort + offset + limit, which Spark executes as a TakeOrdered-style
    * bounded op, not a full materialized sort.
    */
  def r(start: Int, end: Int, order: Column*): GraftTable =
    GraftTable(df.orderBy(order: _*).offset(start).limit(end - start))

  /** Arbitrary row-index list under `order` (DataSelector index-list path,
    * selection.rs:324-408): distributed row index (RowIndex.withRowIndex —
    * range shuffle + partitioned row_number, no single-task window) filtered
    * against the index set.
    */
  def rIdx(indices: Seq[Long], order: Column*): GraftTable =
    GraftTable(
      RowIndex.withRowIndex(df, "__graft_rn", order)
        .filter(col("__graft_rn").isin(indices: _*))
        .drop("__graft_rn"))

  def toDF: DataFrame = df

  /** TableV::to_table analog (table_view.rs:376): materialize the lazy
    * view. In Spark that is cache + force — subsequent ops read the
    * materialized columnar form instead of recomputing the plan. The
    * cache takes a [[CacheRegistry]] slot like any operator cache.
    */
  def materialize(): GraftTable = {
    CacheRegistry.persist(df).count()
    this
  }
}
