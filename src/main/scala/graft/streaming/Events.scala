package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming surface (SURVEY.md §2.11): the reference's chunked-container
  * model (`SuperTable` push/append, src/structs/chunked/super_table.rs:138)
  * maps to Structured Streaming micro-batches; watermarks + event-time
  * windows + stateful sessionization are the engine-layer extensions the
  * north star asks for over the `events` fixture.
  */
object Events {

  /** Tumbling event-time window aggregation executed as a REAL streaming
    * query: file-stream source over the events parquet, watermark, windowed
    * groupBy, memory sink drained synchronously. Returns the final result
    * table (batch-equivalent because replay order can't make data later
    * than the watermark within one file batch).
    */
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Auto-sized state-store count: state stores == shuffle partitions is
    * FIXED at stateful-query start, so it must be sized to stream volume
    * up front — too many stores and every micro-batch pays per-store
    * open/commit overhead (measured: q74 6.2 s at 32 vs 2.75 s at 4 on
    * the 2 MB fixture), too few and each store carries the whole scaled
    * state (measured: q73/q103 crept to 8.8×/9.8× decade factors at the
    * 100× fixture on 4 stores). One store per ~16 MiB of source, clamped
    * to [4, 32] for the local harness; a cluster deployment raises the
    * clamp with the executor count. `stateParts <= 0` in the entry
    * points below means "auto".
    */
  private[graft] def adaptiveStateParts(sfDir: String): Int =
    graft.ops.Layout.adaptivePartsForDir(sfDir + "/events.parquet")

  private def resolveStateParts(sfDir: String, stateParts: Int): Int =
    if (stateParts > 0) stateParts else adaptiveStateParts(sfDir)

  /** The file-stream source only accepts directories/globs; stage the
    * single events.parquet file into a scratch directory once per sfDir.
    */
  private[graft] def stageDir(sfDir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // key by the full sanitized path (a hashCode key could collide across
    // datasets); always re-copy — regenerated data of identical SIZE would
    // otherwise be served stale from the tmp cache, and the copy is cheap
    // relative to the streaming query it feeds
    val dir = Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_" + sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(dir)
    // clear previous part files first: a re-generated source with fewer
    // parts would otherwise leave stale payloads the stream reads back
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) Files.delete(p)
      }
    }
    val src = Paths.get(sfDir, "events.parquet")
    // events.parquet may be a single FILE (the driver's layout) or a
    // Spark-written DIRECTORY of part files — silently staging a
    // directory as if it were a file yields an EMPTY stream (measured:
    // every streaming query returns 0 rows with no error). Stage each
    // part file; the file-stream source reads the flat directory.
    if (Files.isDirectory(src)) {
      scala.util.Using.resource(Files.list(src)) { s =>
        s.forEach { p =>
          val n = p.getFileName.toString
          if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
            Files.copy(p, dir.resolve(n), StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    } else {
      Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  /** File-stream source over the staged events parquet with the ts column
    * normalized at the ingest boundary — schema-adaptive exactly like the
    * batch path (Tables.normalizeTs): the reader schema is the RAW parquet
    * schema (Long epoch-nanos under `nanosAsLong`, or TIMESTAMP_NTZ for a
    * timestamp[us] fixture), and the same observed-type branch normalizes to
    * a µs TimestampType. One shared idiom for every streaming entry point —
    * a missed branch here silently corrupts timestamps.
    */
  private def streamEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.load(spark, sfDir, "events")
    Tables.normalizeTs(
      spark.readStream.schema(raw.schema).parquet(stageDir(sfDir)))
  }

  def windowedCountsStreaming(spark: SparkSession, sfDir: String, windowLen: String,
      stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    val name = s"graft_events_win_${counter.incrementAndGet()}"
    val stream = streamEvents(s2, sfDir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total_value"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Gap-based sessionization (30-min inactivity): batch form via window
    * functions — lag/cumulative-sum session ids, the canonical distributed
    * sessionize (one shuffle on user_id). The streaming twin is
    * `sessionizeStreaming` below.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Streaming sessionization via Spark's NATIVE session_window operator:
    * merging event-time windows with watermark-driven state eviction — the
    * declarative twin of `sessionizeStreaming` below (same gap semantics,
    * no hand-rolled state). Append mode emits a session once the watermark
    * passes its close; with a bounded replay the trailing still-open
    * sessions stay in state, exactly like the explicit-state variant.
    */
  def sessionizeStreamingNative(spark: SparkSession, sfDir: String, gapMinutes: Int,
      stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    val name = s"graft_events_sessnat_${counter.incrementAndGet()}"
    val agg = streamEvents(s2, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n_events"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Run `build` against a CLONED session with `spark.sql.shuffle.partitions`
    * set for a stateful streaming query: state-store count == shuffle
    * partitions is fixed at query start, and every store pays per-batch
    * open/commit cost. Size it to stream volume (at 100 TB you size UP; the
    * local fixture is oversized at 32 — measured q74 6.2 s at 32, 3.75 s
    * at 8, 2.75 s at 4, all identical outputs; the fixture default is 4).
    * A clone (shared SparkContext, own conf + catalog) keeps the
    * setting out of the caller's session — no global mutation, no race with
    * concurrent queries.
    */
  private def withStateParts[T](spark: SparkSession, n: Int)(build: SparkSession => T): T =
    build(graft.GraftConf.cloneSession(spark, n))

  /** Stream-stream join with event-time range condition — clicks joined
    * to the same user's purchases within the following hour. Both sides
    * carry watermarks so Spark bounds the join STATE on each side
    * (without them, every past row must be retained forever — the
    * stream-join scale cliff). On a bounded replay the emitted matches
    * equal the batch join, which is the oracle.
    *
    * `joinType` "left_outer": unmatched clicks additionally emit a
    * NULL-extended row, but only once the global watermark proves no
    * future purchase can match (click_ts + 1h < watermark) — clicks too
    * close to the end of the replay never emit their NULL row. The
    * oracle replays exactly that rule from the batch side.
    */
  def clickPurchaseJoinStreaming(spark: SparkSession, sfDir: String,
      stateParts: Int = 0, joinType: String = "inner"): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    val name = s"graft_events_ssj_${counter.incrementAndGet()}"
    val clicks = streamEvents(s2, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = streamEvents(s2, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      clicks("user_id") === purchases("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(clicks("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Stream-static join — the third leg of the streaming join matrix
    * (q74 inner stream-stream, q115 outer stream-stream): an unbounded
    * event stream enriched against a STATIC dimension (re-resolved per
    * micro-batch, broadcast — no state store involved), then a
    * watermarked windowed aggregate. On a bounded replay the result
    * equals the batch join+agg, which is the oracle.
    */
  def enrichedCountsStreaming(spark: SparkSession, sfDir: String, dim: DataFrame,
      dimKey: String, labelCol: String, stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    val name = s"graft_events_enrich_${counter.incrementAndGet()}"
    val enriched = streamEvents(s2, sfDir)
      .withWatermark("ts", "1 hour")
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col(dimKey))
      .groupBy(window(col("ts"), "6 hours"), col(labelCol))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("wstart"), col(labelCol), col("n"), col("total_value"))
    // complete mode: the memory sink mirrors the full aggregate table,
    // so trailing windows the watermark hasn't finalized still appear
    // (q43's convention; append mode would withhold the last window)
    val q = enriched.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Streaming exact deduplication — the training-pipeline ingest shape:
    * emit the first event per key as it arrives, with WATERMARK-BOUNDED
    * state (dropDuplicatesWithinWatermark evicts keys older than the
    * watermark, so state stays O(keys-per-window) instead of O(all keys
    * ever) — the only viable dedup shape on an unbounded 100 TB stream).
    * Key = (user_id, hour bucket); output is the distinct key set, which
    * is deterministic (which event survives per key is not).
    */
  def watermarkDedupStreaming(spark: SparkSession, sfDir: String,
      stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    val name = s"graft_events_dedup_${counter.incrementAndGet()}"
    val distinctKeys = streamEvents(s2, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "hr")
      .select(col("user_id"), col("hr"))
    val q = distinctKeys.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Streaming sessionization on Spark 4's transformWithState — the
    * CURRENT arbitrary-state API (flatMapGroupsWithState's successor):
    * typed per-key ValueState through a StatefulProcessor, RocksDB state
    * store (the provider the API requires — also the store you'd run at
    * 100 TB: state spills off-heap instead of living on the JVM heap).
    * Emits CLOSED sessions only, exactly like `sessionizeStreaming`; on a
    * single-batch replay that is every session except each user's last —
    * a deterministic set, so the gate checks it cell-exact against the
    * batch sessionization with each user's final session removed.
    */
  def sessionizeTransformWithState(spark: SparkSession, sfDir: String, gapMinutes: Int,
      stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    import s2.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing measured and REJECTED for this harness
    // (round-11 A/B, min-of-3 subset bench): ON = sf1 4.64 s / sf10
    // 40.28 s (factor 8.7), OFF = 3.51 s / 23.69 s (factor 6.75). With a
    // local-FS checkpoint and O(1)-per-key session state, the per-commit
    // changelog file writes cost more than the full-snapshot upload they
    // replace; on a cluster with a remote checkpoint store and
    // key-sparse updates the trade flips — revisit there, not here.
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    val gapUs = gapMinutes * 60L * 1000000L
    val name = s"graft_events_tws_${counter.incrementAndGet()}"
    val stream = streamEvents(s2, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    val sessions = stream.groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapUs), TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "sess_start_us", "sess_end_us", "n_events")
    val q = sessions.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }

  /** Streaming sessionization with explicit state: flatMapGroupsWithState
    * over user_id, emitting CLOSED sessions only — a session still open at
    * the end of the processed data stays in state until a later batch
    * closes it (by design for an unbounded stream; there is no end-of-
    * stream flush under NoTimeout). The batch twin above is the oracle for
    * closed sessions; its trailing open sessions are the expected delta.
    */
  def sessionizeStreaming(spark: SparkSession, sfDir: String, gapMinutes: Int,
      stateParts: Int = 0): DataFrame =
    withStateParts(spark, resolveStateParts(sfDir, stateParts)) { s2 =>
    import s2.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    val name = s"graft_events_sess_${counter.incrementAndGet()}"
    val stream = streamEvents(s2, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]

    case class Sess(var start: Long, var end: Long, var n: Long)
    val sessions = stream.groupByKey(_._1).flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long, Long)](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (user: Long, rows: Iterator[(Long, Long)], state: GroupState[List[(Long, Long, Long)]]) =>
        // accumulate sorted event times; emit closed sessions per batch
        val times = rows.map(_._2).toArray.sorted
        val prior = state.getOption.getOrElse(Nil)
        var sessions = prior
        var out = List.empty[(Long, Long, Long, Long)]
        times.foreach { t =>
          sessions match {
            case (s0, e0, n0) :: rest if t - e0 <= gapUs =>
              sessions = (s0, math.max(e0, t), n0 + 1) :: rest
            case other =>
              other.headOption.foreach { case (s0, e0, n0) => out ::= (user, s0, e0, n0) }
              sessions = (t, t, 1L) :: Nil
          }
        }
        state.update(sessions)
        out.iterator
    }.toDF("user_id", "sess_start_us", "sess_end_us", "n_events")
    val q = sessions.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s2.table(name)
  }
}

/** Per-user gap-sessionization processor for [[Events.sessionizeTransformWithState]]:
  * state = the one OPEN session (start, end, count); a row beyond the gap
  * closes it (emit) and opens a new one. O(1) state per key — the
  * transformWithState port of the flatMapGroupsWithState logic above.
  */
class SessionProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var open: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[(Long, Long, Long)]("open",
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)](),
      TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val times = rows.map(_._2).toArray.sorted
    var state = if (open.exists()) Some(open.get()) else None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    times.foreach { t =>
      state match {
        case Some((s0, e0, n0)) if t - e0 <= gapUs =>
          state = Some((s0, math.max(e0, t), n0 + 1))
        case other =>
          other.foreach { case (s0, e0, n0) => out += ((user, s0, e0, n0)) }
          state = Some((t, t, 1L))
      }
    }
    state.foreach(open.update)
    out.iterator
  }
}
