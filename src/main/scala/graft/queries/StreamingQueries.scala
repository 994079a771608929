package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.Events
import org.apache.spark.sql.functions._

/** Streaming surface queries (SURVEY.md §2.11). q43 runs a REAL Structured
  * Streaming query (file source → watermark → windowed agg → memory sink,
  * drained synchronously); its oracle is the batch-SQL equivalent of the
  * same tumbling window. q44 is distributed gap-sessionization.
  */
object StreamingQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q43_stream_windowed",
      """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS wstart,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin) { (s, d) =>
      Events.windowedCountsStreaming(s, d, "6 hours")
        .orderBy(col("wstart"), col("event_type"))
    },

    // Value-bounded RANGE window frame (trailing 1-hour per-user
    // aggregate) — the window-frame shape ROWS frames can't express
    // (q10/q77 cover ROWS); both engines share the µs-epoch RANGE
    // arithmetic, ties included by definition.
    QueryDef.sql(
      "q106_range_frame",
      """SELECT event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  ROUND(SUM(value) OVER w, 2) AS val_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 2).as("val_1h"))
        .orderBy(col("event_id"))
    },

    // Sessionization through Spark 4's transformWithState (the CURRENT
    // arbitrary-state API, RocksDB-backed). A single-batch replay emits
    // exactly the CLOSED sessions = every session except each user's
    // last — deterministic, so the oracle is the batch sessionization
    // minus each user's final session, cell-exact.
    QueryDef.sql(
      "q103_sessionize_tws",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, sess_id,
        |    MIN(epoch_us(ts)) AS sess_start_us, MAX(epoch_us(ts)) AS sess_end_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM sess GROUP BY user_id, sess_id),
        |last AS (SELECT user_id, MAX(sess_id) AS last_id FROM agg GROUP BY user_id)
        |SELECT a.user_id, a.sess_start_us, a.sess_end_us, a.n_events
        |FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sess_id <> l.last_id
        |ORDER BY a.user_id, a.sess_start_us""".stripMargin) { (s, d) =>
      Events.sessionizeTransformWithState(s, d, gapMinutes = 30)
        .orderBy(col("user_id"), col("sess_start_us"))
    },

    QueryDef.sql(
      "q44_sessionize",
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked)
        |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Events.sessionizeBatch(Tables.events(s, d), gapMinutes = 30)
        .groupBy(col("user_id"))
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }
,

    // Sliding event-time windows (6h length, 2h slide): each event lands
    // in len/slide = 3 overlapping windows. Spark's native window();
    // oracle replays the window arithmetic via range-unnest.
    QueryDef.sql(
      "q59_sliding_window",
      """WITH w AS (
        |  SELECT event_type, value,
        |    unnest(range(
        |      CAST(ceil((epoch_us(ts) - 21600000000 + 1) / 7200000000.0) AS BIGINT),
        |      (epoch_us(ts) // 7200000000) + 1)) AS k
        |  FROM events)
        |SELECT make_timestamp(k * 7200000000) AS wstart, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total_value
        |FROM w GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("wstart"), col("event_type"))
    },

    // Stream-static join: the event stream enriched against the customer
    // →nation dimension (broadcast per micro-batch, no join state), then
    // a watermarked windowed aggregate — the everyday streaming
    // enrichment shape, completing the join matrix with q74/q115. On the
    // bounded replay the emitted finalized windows equal the batch form.
    QueryDef.sql(
      "q129_stream_static_join",
      """WITH dim AS (
        |  SELECT c_custkey, n_name FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT time_bucket(INTERVAL 6 HOUR, e.ts) AS wstart, d.n_name,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(e.value), 2) AS total_value
        |FROM events e JOIN dim d ON e.user_id = d.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      Events.enrichedCountsStreaming(s, d, dim, "c_custkey", "n_name")
        .orderBy(col("wstart"), col("n_name"))
    },

    // Running DISTINCT count over a window — a native Spark gap
    // (count(DISTINCT) OVER is unsupported) closed with the set-state
    // form: size(collect_set() OVER (... ROWS UNBOUNDED PRECEDING)).
    // State is the distinct set per frame — bounded by the event-type
    // domain here; the HLL sketch (q100) is the unbounded-domain path.
    QueryDef.sql(
      "q125_window_distinct",
      """SELECT event_id, user_id,
        |  CAST(COUNT(DISTINCT event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          size(collect_set(col("event_type")).over(w)).cast("long").as("n_types_seen"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("n_types_seen"))
    },

    // Per-key EWMA (half-life decay) — exponential-decay event features,
    // the smoothing sibling of q59's sliding windows. The naive telescoped
    // form Σ x_i·2^i / Σ 2^i overflows pow(2,i) to Inf at i ≥ 1024 (NaN
    // tails for any key with >1024 events — at corpus scale, every active
    // key). BOUNDED-EXPONENT reformulation: block the index (B = 32, so
    // exponents stay ≤ 2^31 forever), keep the sequential running sums
    // with block-LOCAL exponents, and fold in the two previous blocks'
    // totals scaled by 2^-32 / 2^-64 — power-of-two scaling is exact in
    // IEEE, the lag windows are per-key, and terms older than 3 blocks
    // (decay < 2^-64, invisible at round-6) drop identically on both
    // engines. Block totals come from max_by of the RUNNING sum, never an
    // unordered GROUP-BY float sum, so every addition stays sequential
    // and the oracle is bit-exact. Still one logical shape: windows and
    // the block join all partition by user_id.
    QueryDef.sql(
      "q118_ewma",
      """WITH r AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
        |  FROM events),
        |r2 AS (
        |  SELECT *, i // CAST(32 AS BIGINT) AS b, CAST(i % 32 AS DOUBLE) AS e FROM r),
        |run AS (
        |  SELECT *,
        |    SUM(value * pow(2.0, e)) OVER w AS s,
        |    SUM(pow(2.0, e)) OVER w AS t
        |  FROM r2 WINDOW w AS (PARTITION BY user_id, b ORDER BY i)),
        |blk AS (
        |  SELECT user_id, b, max_by(s, i) AS sb, max_by(t, i) AS tb
        |  FROM run GROUP BY user_id, b),
        |lagged AS (
        |  SELECT user_id, b,
        |    lag(sb, 1) OVER wb AS sp1, lag(tb, 1) OVER wb AS tp1,
        |    lag(sb, 2) OVER wb AS sp2, lag(tb, 2) OVER wb AS tp2
        |  FROM blk WINDOW wb AS (PARTITION BY user_id ORDER BY b))
        |SELECT event_id, user_id,
        |  ROUND((s + COALESCE(sp1, 0) * pow(2.0, -32.0) + COALESCE(sp2, 0) * pow(2.0, -64.0))
        |      / (t + COALESCE(tp1, 0) * pow(2.0, -32.0) + COALESCE(tp2, 0) * pow(2.0, -64.0)), 6) AS ewma
        |FROM run JOIN lagged USING (user_id, b)
        |ORDER BY user_id, i""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"), col("b")).orderBy(col("i"))
      val wb = Window.partitionBy(col("user_id")).orderBy(col("b"))
      val run = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("i", (row_number().over(wOrder) - 1).cast("long"))
        .withColumn("b", (col("i") / 32).cast("long"))
        .withColumn("e", (col("i") % 32).cast("double"))
        .withColumn("u", pow(lit(2.0), col("e")))
        .withColumn("s", sum(col("value") * col("u")).over(wRun))
        .withColumn("t", sum(col("u")).over(wRun))
      val blk = run.groupBy(col("user_id"), col("b"))
        .agg(max_by(col("s"), col("i")).as("sb"), max_by(col("t"), col("i")).as("tb"))
        .select(col("user_id"), col("b"),
          lag(col("sb"), 1).over(wb).as("sp1"), lag(col("tb"), 1).over(wb).as("tp1"),
          lag(col("sb"), 2).over(wb).as("sp2"), lag(col("tb"), 2).over(wb).as("tp2"))
      val c32 = pow(lit(2.0), lit(-32.0))
      val c64 = pow(lit(2.0), lit(-64.0))
      run.join(blk, Seq("user_id", "b"))
        .select(col("event_id"), col("user_id"), col("i"),
          round((col("s") + coalesce(col("sp1"), lit(0.0)) * c32
              + coalesce(col("sp2"), lit(0.0)) * c64)
            / (col("t") + coalesce(col("tp1"), lit(0.0)) * c32
              + coalesce(col("tp2"), lit(0.0)) * c64), 6).as("ewma"))
        .orderBy(col("user_id"), col("i"))
        .select(col("event_id"), col("user_id"), col("ewma"))
    },

    // Streaming exact dedup (watermark-bounded state): a REAL streaming
    // query emitting first-arrival keys; on a bounded replay the emitted
    // key set equals batch DISTINCT, which is the oracle.
    QueryDef.sql(
      "q73_stream_dedup",
      """SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr
        |FROM events ORDER BY user_id, hr""".stripMargin) { (s, d) =>
      Events.watermarkDedupStreaming(s, d).orderBy(col("user_id"), col("hr"))
    },

    // Stream-stream join (watermarked both sides, event-time range
    // condition): a REAL streaming query; the oracle is the batch join.
    QueryDef.sql(
      "q74_stream_stream_join",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts, p.value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
      Events.clickPurchaseJoinStreaming(s, d)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },

    // Stream-stream LEFT OUTER join: matches emit eagerly; a click's
    // NULL-extended row emits only once the watermark proves no future
    // purchase can match it. The oracle replays the eviction rule in
    // batch SQL: unmatched clicks survive iff click_ts + 1h is strictly
    // under the final global watermark, min(max click_ts, max purchase_ts)
    // − 1h on this bounded replay.
    QueryDef.sql(
      "q115_stream_outer_join",
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT MAX(click_ts) FROM c),
        |                    (SELECT MAX(purchase_ts) FROM p)) - INTERVAL 1 HOUR AS w),
        |j AS (SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts,
        |             p.purchase_ts, p.value
        |      FROM c LEFT JOIN p
        |        ON c.user_id = p.user_id
        |       AND p.purchase_ts >= c.click_ts
        |       AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
        |SELECT user_id, click_id, purchase_id, click_ts, purchase_ts, value
        |FROM j
        |WHERE purchase_id IS NOT NULL
        |   OR click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      Events.clickPurchaseJoinStreaming(s, d, joinType = "left_outer")
        .orderBy(col("click_id"), col("purchase_id"))
    },

    // Dictionary/categorical parity (SURVEY §7.4.3): explicit (code, label)
    // pairs — the logical equivalent of minarrow's CategoricalArray codes +
    // unique_values. Scale shape: codes are assigned on the (tiny) DISTINCT
    // label set via the distributed row-index primitive, then broadcast-joined
    // back onto per-label counts — the fact table is touched once, by a
    // map-side-combining groupBy; no global window anywhere.
    QueryDef.sql(
      "q60_dictionary_codes",
      """SELECT o_orderpriority AS label,
        |  CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS BIGINT) AS code,
        |  CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |FROM orders QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) = 1
        |ORDER BY code""".stripMargin) { (s, d) =>
      import graft.ops.RowIndex
      val orders = Tables.orders(s, d)
      val labels = RowIndex.withRowIndex(
        orders.select(col("o_orderpriority")).distinct(), "code", Seq(col("o_orderpriority")))
      orders.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .join(broadcast(labels), Seq("o_orderpriority"))
        .select(col("o_orderpriority").as("label"), col("code"), col("n"))
        .orderBy(col("code"))
    }
  )
}