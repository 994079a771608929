package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The one owner of operator cache lifetimes: every operator-internal
  * persist in `src/main` goes through one of two verbs, chosen by who
  * reads the frame.
  *
  *  - [[persist]]: the RETURNED lazy result reads the frame. The caller's
  *    action runs after the operator returns, so the operator cannot
  *    bracket the lifetime; the frame instead joins one bounded deque of
  *    the 8 most recent operator caches, and a ninth live entry
  *    unpersists the oldest. Recompute after an eviction is correct (the
  *    plans are deterministic), just slower. Without the bound every call
  *    would pin its cache until `spark.stop()`: Spark evicts only the
  *    memory tier by LRU, never disk-tier blocks.
  *  - [[during]]: only the call's own eager actions (counts, collects,
  *    writes) read the frame. It is persisted around `body` and unpersisted
  *    in `finally`, and takes no slot. This is also the lifetime for a
  *    cache over state files the call itself rewrites: a registered cache
  *    would outlive the rewrite, and CacheManager would substitute the
  *    stale relation into a later matching plan (FILE_NOT_EXIST).
  *
  * The rule: a frame the returned plan reads is `persist`ed; a frame only
  * the call reads is held `during` the call.
  *
  * The deque is deliberately cross-query, not scoped to one query: warm
  * corpus benchmark passes reuse q134's and q161's registered frames from
  * the previous pass. Releasing every cache after each query measured
  * corpus `pass_s` worse in 5 of 6 alternating pairs (median 3.48 ->
  * 3.81 s), and the traced warm pass went from 0 to 0.68 MB cached and
  * from 36 to 45 jobs.
  */
object CacheRegistry {
  private val maxEntries = 8
  // DataFrames and RDDs (the connected-components label table), oldest first
  private val entries = new java.util.ArrayDeque[AnyRef]()
  private var evicted = 0L

  /** Persists a frame the returned result reads and registers it. */
  def persist(df: DataFrame): DataFrame = register(df.persist())

  /** Same lifetime for an RDD the returned result reads. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    enqueue(rdd.persist(StorageLevel.MEMORY_AND_DISK))
    rdd
  }

  /** Persists `df` for `body` only and unpersists it in `finally`. A frame
    * an earlier [[persist]] registered gives up its slot (it is already
    * cached): the call owns it from here on.
    */
  def during[T](df: DataFrame)(body: DataFrame => T): T = {
    if (!synchronized(entries.removeIf(_ eq df))) df.persist()
    try body(df) finally df.unpersist(blocking = false)
  }

  /** Registers a frame its caller already persisted (specs fill slots so). */
  private[graft] def register(df: DataFrame): DataFrame = {
    enqueue(df)
    df
  }

  /** Live entries unpersisted for capacity since the JVM started. Entries
    * already unpersisted elsewhere and [[releaseAll]] do not count.
    */
  def evictions: Long = synchronized(evicted)

  /** Release everything now (e.g. between spec cases). */
  def releaseAll(): Unit = synchronized {
    while (!entries.isEmpty) release(entries.removeFirst())
  }

  private def enqueue(x: AnyRef): Unit = synchronized {
    entries.addLast(x)
    // dead slots first: a frame its owner already unpersisted must not
    // push a live cache out
    if (entries.size > maxEntries) entries.removeIf(e => !cached(e))
    while (entries.size > maxEntries) {
      release(entries.removeFirst())
      evicted += 1
    }
  }

  private def cached(x: AnyRef): Boolean =
    try x match {
      case ds: Dataset[_] => ds.storageLevel != StorageLevel.NONE
      case rdd: RDD[_] => rdd.getStorageLevel != StorageLevel.NONE
    } catch { case _: Throwable => false }

  private def release(x: AnyRef): Unit =
    try x match {
      case ds: Dataset[_] => ds.unpersist(blocking = false)
      case rdd: RDD[_] => rdd.unpersist(blocking = false)
    } catch { case _: Throwable => () }
}
