package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Casts, Restructure, Strings}
import org.apache.spark.sql.functions._

/** Remaining SURVEY.md §2 surface: casting matrix (§1.2), string
  * arithmetic (§2.1 `str_arithmetic`), scalar⊕table broadcasting (§2.5),
  * positional table zip (§2.5), semi-structured props (events fixture).
  */
object ExtrasQueries {

  val defs: Seq[QueryDef] = Seq(

    // Casting matrix: widen, checked narrow (NULL on overflow), strict
    // float→int (NULL on fractional), bool↔int, num↔string, u64→decimal.
    QueryDef.sql(
      "q45_cast_matrix",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_linenumber AS DOUBLE) AS widened,
        |  CASE WHEN l_orderkey BETWEEN -128 AND 127 THEN CAST(l_orderkey AS BIGINT) END AS narrow8,
        |  CASE WHEN l_quantity = floor(l_quantity) AND NOT isnan(l_quantity)
        |       THEN CAST(floor(l_quantity) AS BIGINT) END AS qty_exact_int,
        |  CASE WHEN l_extendedprice = floor(l_extendedprice) AND NOT isnan(l_extendedprice)
        |       THEN CAST(floor(l_extendedprice) AS BIGINT) END AS price_exact_int,
        |  CAST(l_quantity > 25 AS BIGINT) AS big_flag,
        |  (l_linenumber <> 0) AS nonzero,
        |  CAST(l_linenumber AS VARCHAR) AS ln_str,
        |  CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS ln_roundtrip,
        |  CAST(CAST(l_orderkey AS DECIMAL(20,0)) AS VARCHAR) AS okey_u64,
        |  CAST(l_extendedprice AS REAL) AS price_f32,
        |  CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS f32_widened
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          Casts.widen(col("l_linenumber"), "double").as("widened"),
          Casts.narrowChecked(col("l_orderkey"), "tinyint").cast("long").as("narrow8"),
          Casts.floatToIntStrict(col("l_quantity")).as("qty_exact_int"),
          Casts.floatToIntStrict(col("l_extendedprice")).as("price_exact_int"),
          Casts.boolToInt(col("l_quantity") > 25).as("big_flag"),
          Casts.intToBool(col("l_linenumber")).as("nonzero"),
          Casts.numToString(col("l_linenumber")).as("ln_str"),
          Casts.stringToLong(Casts.numToString(col("l_linenumber"))).as("ln_roundtrip"),
          Casts.toU64(col("l_orderkey")).cast("string").as("okey_u64"),
          Casts.narrowToF32(col("l_extendedprice")).as("price_f32"),
          Casts.widen(Casts.narrowToF32(col("l_extendedprice")), "double").as("f32_widened"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Interval-overlap join (binned, one shuffle, distinct-free dedupe via
    // the overlap-start bin): customers' 30-day order windows that overlap
    // — the second classic range-join shape beside q62's point-in-interval.
    QueryDef.sql(
      "q84_interval_overlap",
      """WITH b AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate AS lo,
        |    o_orderdate + INTERVAL 30 DAY AS hi
        |  FROM orders WHERE o_custkey < 300)
        |SELECT a.o_custkey, a.o_orderkey AS ok1, b2.o_orderkey AS ok2
        |FROM b a JOIN b b2 ON a.o_custkey = b2.o_custkey
        |  AND a.lo < b2.hi AND b2.lo < a.hi AND a.o_orderkey < b2.o_orderkey
        |ORDER BY a.o_custkey, ok1, ok2""".stripMargin) { (s, d) =>
      import graft.ops.RangeJoin
      val base = Tables.orders(s, d).filter(col("o_custkey") < 300)
      def side(n: Int) = base.select(
        col("o_custkey"), col("o_orderkey").as(s"ok$n"),
        col("o_orderdate").cast("timestamp").as(s"lo$n"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).cast("timestamp").as(s"hi$n"))
      RangeJoin.intervalOverlap(side(1), side(2), "lo1", "hi1", "lo2", "hi2",
          Seq("o_custkey"), binWidthUs = 30L * 86400 * 1000000)
        .filter(col("ok1") < col("ok2"))
        .select(col("o_custkey"), col("ok1"), col("ok2"))
        .orderBy(col("o_custkey"), col("ok1"), col("ok2"))
    },

    // String arithmetic (feature str_arithmetic, minarrow
    // src/kernels/arithmetic/string.rs): `+` concatenates (incl. str+num
    // with the numeric formatted), `*` repeats, `−` removes the FIRST
    // occurrence (test_subtract_str :1625), `÷` splits on the separator
    // and rejoins with '|' (test_divide_str :1689), and str×str repeats
    // by the rhs BYTE length (:751). The oracle replays subtract with a
    // strpos splice, divide with replace, and ×len with repeat+strlen
    // (DuckDB strlen = bytes, matching the kernel).
    QueryDef.sql(
      "q46_string_arith",
      """SELECT p_partkey,
        |  p_name || '-' || p_brand AS add_str_str,
        |  p_name || CAST(p_size AS VARCHAR) AS add_str_int,
        |  p_name || CAST(p_retailprice AS VARCHAR) AS add_str_float,
        |  repeat(p_brand, 3) AS mul_str,
        |  CASE WHEN strpos(p_name, 'a') > 0
        |    THEN substr(p_name, 1, strpos(p_name, 'a') - 1) || substr(p_name, strpos(p_name, 'a') + 1)
        |    ELSE p_name END AS sub_str,
        |  replace(p_type, ' ', '|') AS div_str,
        |  repeat('*', strlen(p_brand)) AS mul_len
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .select(
          col("p_partkey"),
          Strings.concatStr(Strings.concatStr(col("p_name"), lit("-")), col("p_brand")).as("add_str_str"),
          Strings.concatStr(col("p_name"), col("p_size").cast("string")).as("add_str_int"),
          Strings.concatStr(col("p_name"), col("p_retailprice").cast("string")).as("add_str_float"),
          Strings.repeatStr(col("p_brand"), 3).as("mul_str"),
          Strings.strSubtract(col("p_name"), lit("a")).as("sub_str"),
          Strings.strDivide(col("p_type"), lit(" ")).as("div_str"),
          Strings.strMultiply(lit("*"), col("p_brand")).as("mul_len"))
        .orderBy(col("p_partkey"))
    },

    // Scalar ⊕ Table broadcast (minarrow broadcast/scalar.rs:36-880):
    // one scalar against every numeric column, other columns untouched.
    QueryDef.sql(
      "q47_scalar_broadcast",
      """SELECT c_custkey * 10 AS c_custkey, c_nationkey * 10 AS c_nationkey,
        |  c_acctbal * 10 AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val df = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      Restructure.mapAllCols(df, _ * lit(10)).orderBy(col("c_custkey"))
    },

    // Table ⊕ Table positional zip (broadcast/table.rs:31-63): pair row i
    // of two equal-shape tables under explicit orders, apply ⊕ columnwise.
    QueryDef.sql(
      "q48_zip_tables",
      """WITH a AS (SELECT c_custkey, c_acctbal, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer),
        |b AS (SELECT c_custkey, c_acctbal, row_number() OVER (ORDER BY c_custkey DESC) AS rn FROM customer)
        |SELECT a.c_custkey + b.c_custkey AS c_custkey, a.c_acctbal + b.c_acctbal AS c_acctbal
        |FROM a JOIN b ON a.rn = b.rn ORDER BY c_acctbal, c_custkey""".stripMargin) { (s, d) =>
      val t = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      // zip ascending-keyed rows against descending-keyed rows, columnwise +
      Restructure.zipTables(
        t, t,
        Seq(col("c_custkey")), Seq(col("c_custkey").desc),
        (x, y) => x + y
      ).orderBy(col("c_acctbal"), col("c_custkey"))
    },

    // Semi-structured props column (events fixture): JSON extraction +
    // grouped aggregation over an extracted field.
    QueryDef.sql(
      "q49_json_props",
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(k).as("sum_k"), max(k).as("max_k"))
        .orderBy(col("event_type"))
    },

    // Snapshot reconciliation: row-level diff of two table versions by
    // key (adds / removes / payload changes via null-safe struct
    // compare) — output is the drift, never the table. Oracle replays
    // the FULL OUTER + IS DISTINCT FROM form.
    QueryDef.sql(
      "q127_table_diff",
      """WITH b AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |a AS (SELECT k, p + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS p
        |      FROM b WHERE k % 11 <> 0
        |      UNION ALL SELECT k + 30000000, p FROM b WHERE k % 13 = 0),
        |d AS (SELECT COALESCE(b.k, a.k) AS k,
        |        CASE WHEN b.k IS NULL THEN 'added'
        |             WHEN a.k IS NULL THEN 'removed'
        |             WHEN a.p IS DISTINCT FROM b.p THEN 'changed' END AS status
        |      FROM b FULL OUTER JOIN a ON b.k = a.k)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n
        |FROM d WHERE status IS NOT NULL GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val after = base.filter(col("k") % 11 =!= 0)
        .withColumn("p", col("p") + when(col("k") % 7 === 0, 1.0).otherwise(0.0))
        .unionByName(base.filter(col("k") % 13 === 0)
          .withColumn("k", col("k") + 30000000L))
      graft.ops.TableDiff.diff(base, after, Seq("k"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },

    // Incremental view maintenance: fold a pre-aggregated delta batch
    // into the silver aggregate table WITHOUT rescanning the base.
    // Integer measures (count + cents) keep the additive fold exactly
    // associative, so the maintained table is cell-identical to the
    // full recompute the oracle runs.
    QueryDef.sql(
      "q128_silver_update",
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |delta AS (
        |  SELECT yr, cents + 500 AS cents FROM base),
        |unioned AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM unioned GROUP BY yr ORDER BY yr""".stripMargin) { (s, d) =>
      val rows = Tables.orders(s, d)
        .select(year(col("o_orderdate")).cast("int").as("yr"),
          // explicit round: Spark's double->long cast truncates where
          // DuckDB's rounds; price*100 sits epsilon under the integer
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("yr"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      val silver = agg(rows)
      val deltaBatch = rows.withColumn("cents", col("cents") + 500L)
      graft.ops.TableDiff.mergeAdditive(silver, agg(deltaBatch), Seq("yr"))
        .orderBy(col("yr"))
    },

    // Semi-structured round trip through Spark 4's VARIANT type: nested
    // JSON (object + array) built from columns with to_json, ingested
    // with parse_json, fields extracted via typed variant_get paths —
    // the modern engine-native path beyond q49's string-level
    // get_json_object. Compare happens on EXTRACTED values only, so
    // engine JSON formatting differences can't leak in.
    QueryDef.sql(
      "q124_variant",
      """WITH j AS (
        |  SELECT event_id,
        |    json_object('id', event_id,
        |      'who', json_object('u', user_id, 't', event_type),
        |      'vals', json_array(value, value * 2)) AS v
        |  FROM events WHERE event_id < 2000)
        |SELECT event_id,
        |  CAST(json_extract(v, '$.who.u') AS BIGINT) AS u,
        |  json_extract_string(v, '$.who.t') AS t,
        |  ROUND(CAST(json_extract(v, '$.vals[1]') AS DOUBLE), 2) AS v2,
        |  CAST(json_array_length(json_extract(v, '$.vals')) AS BIGINT) AS n_vals
        |FROM j ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).filter(col("event_id") < 2000)
        .select(col("event_id"),
          parse_json(to_json(struct(
            col("event_id").as("id"),
            struct(col("user_id").as("u"), col("event_type").as("t")).as("who"),
            array(col("value"), col("value") * 2).as("vals")))).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.who.u", "long").as("u"),
          variant_get(col("v"), "$.who.t", "string").as("t"),
          round(variant_get(col("v"), "$.vals[1]", "double"), 2).as("v2"),
          expr("CAST(array_size(variant_get(v, '$.vals', 'array<double>')) AS BIGINT)").as("n_vals"))
        .orderBy(col("event_id"))
    },

    // Cube-analog stack (src/structs/cube.rs:77): label-axis union of
    // same-schema snapshots, then a per-axis aggregation.
    QueryDef.sql(
      "q50_cube_stack",
      """SELECT snapshot, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM (
        |  SELECT 'early' AS snapshot, o_totalprice FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  UNION ALL
        |  SELECT 'late' AS snapshot, o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY snapshot ORDER BY snapshot""".stripMargin) { (s, d) =>
      val cut = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val orders = Tables.orders(s, d)
      Restructure.stack(Seq(
          "early" -> orders.filter(col("o_orderdate") < cut).select(col("o_totalprice")),
          "late" -> orders.filter(col("o_orderdate") >= cut).select(col("o_totalprice"))))
        .groupBy(col("snapshot"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("snapshot"))
    },

    // Matrix interop in the gate (minarrow `Matrix`, src/structs/matrix.rs:74,
    // `TryFrom<Table>` :15-18): a bounded deterministic table slice promoted
    // to the driver-side row-major matrix (Restructure.toLocalMatrix, the
    // reference's single-node BLAS boundary), then emitted back COLUMN-MAJOR
    // as (row_idx, col_idx, value) — the reference Matrix's physical layout
    // order. The oracle replays the slice and the unpivot, so shape, cell
    // addressing, and values are all hash-checked. Driver-side by contract
    // (bounded 100 rows); at scale the path is MLlib distributed matrices.
    QueryDef.sql(
      "q140_matrix",
      """WITH base AS (
        |  SELECT l_quantity, l_extendedprice, l_discount,
        |    CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount) - 1 AS BIGINT) AS row_idx
        |  FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount LIMIT 100)
        |SELECT row_idx, col_idx, value FROM (
        |  SELECT row_idx, CAST(0 AS BIGINT) AS col_idx, CAST(l_quantity AS DOUBLE) AS value FROM base
        |  UNION ALL SELECT row_idx, CAST(1 AS BIGINT), CAST(l_extendedprice AS DOUBLE) FROM base
        |  UNION ALL SELECT row_idx, CAST(2 AS BIGINT), CAST(l_discount AS DOUBLE) FROM base)
        |ORDER BY col_idx, row_idx""".stripMargin) { (s, d) =>
      val matCols = Seq("l_quantity", "l_extendedprice", "l_discount")
      // the slice sort must be TOTAL over every emitted column: the fixture
      // carries duplicate (l_orderkey, l_linenumber) pairs (seen at sf0.1),
      // and a non-total sort makes the top-100 slice engine-dependent. With
      // the value columns as tiebreakers, any remaining ties are full-row
      // duplicates — interchangeable, so the emitted cells are identical.
      val base = Tables.lineitem(s, d)
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .limit(100)
      val m = Restructure.toLocalMatrix(base, matCols, maxRows = 100)
      import s.implicits._
      val cells = for {
        j <- matCols.indices          // column-major: column is the outer axis
        i <- m.indices
      } yield (i.toLong, j.toLong, m(i)(j))
      cells.toDF("row_idx", "col_idx", "value")
        .orderBy(col("col_idx"), col("row_idx"))
    },

    // Arrow interchange in the gate: nation exported to serialized Arrow
    // record batches and re-imported (the reference's FFI loop, EP3 in
    // SURVEY §3), then aggregated — the oracle aggregates the table
    // directly, so the round trip must be the identity.
    QueryDef.sql(
      "q61_arrow_roundtrip",
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      val back = graft.sources.ArrowInterop.roundTrip(s, Tables.nation(s, d))
      back.groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy(col("n_regionkey"))
    }
,

    // CSV source/sink in the gate: supplier written to CSV (explicit
    // schema, no inference) and read back, then aggregated — the oracle
    // aggregates the original parquet, so the text round trip must be
    // the identity.
    QueryDef.sql(
      "q67_csv_roundtrip",
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(s_acctbal), 2) AS total_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val src = Tables.supplier(s, d)
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_csv_gate_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      graft.sources.TextSources.writeCsv(src, dir)
      graft.sources.TextSources.readCsv(s, dir, src.schema)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("total_bal"))
        .orderBy(col("s_nationkey"))
    },

    // Bounded top-k per group via the TopK typed Aggregator — algebraic
    // (map-side partial agg caps state at k pairs per group per task; the
    // shuffle carries k pairs per (group, partition)) where the window
    // form shuffles and sorts every row. Oracle = the window form.
    QueryDef.sql(
      "q91_topk_agg",
      """SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.TopK(3))
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"))
    },

    // Arrow batch-dir through the DataSource V2 reader
    // (sources.arrowdir): customer staged as IPC payloads, loaded with
    // spark.read.format(...), pruned + aggregated. The oracle aggregates
    // the original parquet — the v2 scan must be the identity.
    QueryDef.sql(
      "q92_arrowdir_scan",
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(c_acctbal), 2) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val src = Tables.customer(s, d)
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_arrowdir_gate_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      graft.sources.ArrowInterop.writeBatchDir(src, dir)
      s.read.format("graft.sources.arrowdir").load(dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // Arrow batch-dir through the MICRO-BATCH streaming reader: supplier
    // staged via the DSv2 writer (truncate = a clean, committed payload
    // set), tailed with readStream, aggregated in complete mode, drained
    // into a memory sink. A bounded replay of the stream must equal the
    // batch aggregate of the original parquet — same identity contract as
    // q92, through the streaming leg.
    QueryDef.sql(
      "q97_arrowdir_stream",
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(s_acctbal), 2) AS total_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val fmt = "graft.sources.arrowdir"
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_arrowdir_stream_gate_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      Tables.supplier(s, d).write.format(fmt).mode("overwrite").save(dir)
      val name = "graft_arrowdir_stream_gate_sink"
      val agg = s.readStream.format(fmt)
        .schema(graft.sources.arrowdir.ArrowDirSource.sidecarSchema(dir))
        .load(dir)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("total_bal"))
      val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).orderBy(col("s_nationkey"))
    },

    // Z-order (Morton) clustering key over (p_size, p_partkey % 256) —
    // the multi-dim layout primitive (ops/ZOrder.cluster sorts/writes by
    // this value; SinkSpec proves the per-file locality it buys). The
    // z-value is pure bit arithmetic on both engines, so the gate checks
    // it cell-exact, in the exact order the clustered layout would use.
    QueryDef.sql(
      "q98_zorder_key",
      s"""SELECT p_partkey, ${ExtrasQueries.zOracleExpr} AS zval
         |FROM part ORDER BY zval, p_partkey""".stripMargin) { (s, d) =>
      import graft.ops.ZOrder
      Tables.part(s, d)
        .select(col("p_partkey"),
          // p_size normalized to the full 8-bit lane (1..50 → 5..250) so
          // both dims share the high interleave bits (see ZOrder scaladoc)
          ZOrder.zValue(Seq(col("p_size") * 5, col("p_partkey") % 256), bits = 8).as("zval"))
        .orderBy(col("zval"), col("p_partkey"))
    },

    // Pipeline QA metrics via the Observation API: exact aggregates
    // (row count, token total, id range) collected as a SIDE-OUTPUT of
    // the pipeline's own action — no second scan. The oracle computes
    // the same aggregates the direct way; equality proves the observe
    // node sees exactly the pipeline's output.
    QueryDef.sql(
      "q111_observed_metrics",
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+')) AS n
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM t WHERE n >= 10""".stripMargin) { (s, d) =>
      val pipeline = Tables.documents(s, d)
        .select(col("doc_id"),
          size(graft.llm.TextAnalysis.wordTokens(col("text"))).cast("long").as("n"))
        .filter(col("n") >= 10)
      graft.ops.Observe.observedStats(s, pipeline, Seq(
        "n_rows" -> count(lit(1)),
        "total_tokens" -> sum(col("n")),
        "min_id" -> min(col("doc_id")),
        "max_id" -> max(col("doc_id"))))
    },

    // Data skipping end-to-end: z-cluster lineitem on (l_partkey,
    // l_suppkey), build the per-file min/max manifest, answer a partkey
    // box query by reading ONLY the files whose stats overlap (driver
    // prunes on the manifest before any data IO) + the residual filter.
    // The oracle full-scans with the same predicate — equality proves
    // pruning loses nothing; SinkSpec proves it actually skips files.
    QueryDef.sql(
      "q112_manifest_prune",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity), 2) AS sum_q
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.ops.ZOrder
      import graft.sources.Sinks
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_zprune_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      ZOrder.clusterWrite(Tables.lineitem(s, d),
        Seq(pmod(col("l_partkey"), lit(65536)), pmod(col("l_suppkey"), lit(65536))),
        numFiles = 16, dir)
      // persist the stats manifest AT WRITE TIME (footer metadata only —
      // no second table scan); the pruned read below consumes it, so the
      // read path touches nothing but the surviving files
      Sinks.writeStatsManifest(s, dir, Seq("l_partkey", "l_suppkey"))
      Sinks.readPruned(s, dir, "l_partkey", 100, 300)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_q"))
        .orderBy(col("l_returnflag"))
    },

    // Partition-incremental OPTIMIZE ZORDER — the bounded-working-set
    // rewrite (each l_returnflag partition re-laid as its OWN
    // read→cuts→z-sort→swap job, scratch O(partition) never O(table) —
    // the granularity real OPTIMIZE runs at, and the reason the
    // whole-table form died on scratch disk at sf100). The gate reads
    // the table back AFTER the rewrite and aggregates per partition —
    // equality against the oracle's direct lineitem scan proves the
    // swap preserved every row and value; SinkSpec pins the layout
    // (≤ filesPerPartition files, per-file z-locality), the
    // marker-based incremental skip, and crash-window self-healing.
    QueryDef.sql(
      "q211_optimize_partitioned",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity), 2) AS sum_q,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_p,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.ops.ZOrder
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_optimize_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .repartition(4)
        .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
      // overlap the three per-partition rewrite jobs (guide §2.6): at this
      // partition count one job's quantile/sample/write stages cannot keep
      // local[32] busy — the bounded pool backfills the idle tail. Content
      // is identical to the serial form (xor-hash cross-check, PLANS.md
      // "Round-15: concurrent optimizePartitioned measured": 3.84× at 4
      // in flight; the oracle re-proves it every run); scratch bound
      // becomes 3 × partition, still O(k · partition).
      ZOrder.optimizePartitioned(s, dir, "l_returnflag",
        Seq("l_partkey", "l_suppkey"), filesPerPartition = 8,
        maxConcurrent = 3)
      s.read.parquet(dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_q"),
          round(sum(col("l_extendedprice")), 2).as("sum_p"),
          sum(col("l_orderkey")).cast("long").as("sum_ok"),
          sum(col("l_partkey")).cast("long").as("sum_pk"))
        .orderBy(col("l_returnflag"))
    },

    // MERGE / upsert (the DML verb): updates replace same-key rows, new
    // keys append, and ONLY the touched partitions rewrite (dynamic
    // partition overwrite — SinkSpec proves untouched partitions keep
    // their very files). The oracle replays the merge relationally:
    // updates ∪ (target ⟕̸ updates).
    QueryDef.sql(
      "q122_merge_upsert",
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, o_year
        |  FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_year
        |  FROM base WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
        |SELECT o_year, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM merged GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, d) =>
      import graft.sources.Sinks
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_merge_" + d.replaceAll("[^A-Za-z0-9]", "_")).toString
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("int").as("o_year"))
      // deterministic start state each run
      base.write.mode("overwrite").partitionBy("o_year").parquet(dir)
      val mods = base.filter(col("o_orderkey") % 100 === 0)
      val updates = mods.withColumn("o_totalprice", col("o_totalprice") + 1000)
        .unionByName(mods.withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      Sinks.mergeUpsert(s, dir, updates, Seq("o_orderkey"), "o_year")
      s.read.parquet(dir)
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_year"))
    },

    // Array-kernel battery: ordered collect + the array op surface both
    // engines share (sort/distinct/slice/position/contains/fold/join),
    // reduced to scalar outputs so the compare is format-proof. Integer
    // payloads keep the string renderings identical. DuckDB's
    // list_position yields NULL on absence where Spark yields 0 —
    // coalesced in the oracle.
    QueryDef.sql(
      "q119_array_ops",
      """WITH a AS (
        |  SELECT l_orderkey, list_sort(list(l_linenumber)) AS arr
        |  FROM lineitem WHERE l_orderkey < 2000 GROUP BY 1)
        |SELECT l_orderkey,
        |  CAST(len(arr) AS BIGINT) AS n,
        |  CAST(arr[1] AS BIGINT) AS first_e,
        |  CAST(arr[-1] AS BIGINT) AS last_e,
        |  CAST(list_aggregate(arr, 'sum') AS BIGINT) AS total,
        |  CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
        |  CAST(COALESCE(list_position(arr, 3), 0) AS BIGINT) AS pos3,
        |  list_contains(arr, 5) AS has5,
        |  array_to_string(arr[1:3], '-') AS head3
        |FROM a ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 2000)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_linenumber"))).as("arr"))
        .select(col("l_orderkey"),
          size(col("arr")).cast("long").as("n"),
          element_at(col("arr"), 1).cast("long").as("first_e"),
          element_at(col("arr"), -1).cast("long").as("last_e"),
          aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("total"),
          size(array_distinct(col("arr"))).cast("long").as("n_distinct"),
          array_position(col("arr"), 3).cast("long").as("pos3"),
          array_contains(col("arr"), 5).as("has5"),
          array_join(slice(col("arr"), 1, 3), "-").as("head3"))
        .orderBy(col("l_orderkey"))
    },

    // Table-level metadata map (#91, previously spec-only — the
    // reference's Table.metadata BTreeMap, structs/table.rs:103): the map
    // must survive BOTH at-rest forms, the parquet footer (schema-JSON
    // key-value) and the arrow batch-dir sidecar. The oracle states the
    // expected (k, v) pairs with literal-TRUE survival flags; a dropped
    // or corrupted map flips a boolean and fails the hash.
    QueryDef.sql(
      "q146_table_metadata",
      """SELECT * FROM (VALUES
        |  ('owner', 'graft', TRUE, TRUE),
        |  ('round', '8', TRUE, TRUE),
        |  ('source', 'gate', TRUE, TRUE))
        |  AS t(k, v, survived_parquet, survived_arrowdir)
        |ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val meta = Map("owner" -> "graft", "round" -> "8", "source" -> "gate")
      val tagged = graft.sources.ArrowInterop.withTableMetadata(
        Tables.nation(s, d).select(col("n_nationkey"), col("n_name")), meta)
      val stem = d.replaceAll("[^A-Za-z0-9]", "_")
      val pdir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_meta_parquet_" + stem).toString
      tagged.write.mode("overwrite").parquet(pdir)
      val fromParquet = graft.sources.ArrowInterop.tableMetadata(s.read.parquet(pdir))
      val adir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_meta_arrowdir_" + stem).toString
      graft.sources.ArrowInterop.writeBatchDir(tagged, adir)
      val fromArrow = graft.sources.ArrowInterop.tableMetadata(
        graft.sources.ArrowInterop.readBatchDir(s, adir))
      meta.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          (k, v, fromParquet.get(k).contains(v), fromArrow.get(k).contains(v)) }
        .toDF("k", "v", "survived_parquet", "survived_arrowdir")
        .orderBy(col("k"))
    },

    // Display golden parity (#83/#92, previously spec-only): the
    // reference Print-format renderer (Display for Table,
    // table.rs:934-1006) over a FIXTURE-INDEPENDENT literal table (range
    // + derived cols, 30 rows > MAX_PREVIEW so the first-10/…/last-10
    // ellipsis path runs, plus a nullable column). The oracle pins the
    // headline line, the line count, and the md5 of the full rendering —
    // any drift in box layout, width fitting, null display, or the
    // ellipsis row changes the digest.
    QueryDef.sql(
      "q147_render_golden",
      renderGoldenOracle) { (s, d) =>
      import s.implicits._
      val demo = s.range(0, 30).select(col("id"),
        (col("id") * 2).cast("int").as("v"),
        concat(lit("s"), col("id")).as("name"),
        when(pmod(col("id"), lit(3)) === 0, col("id").cast("double") / lit(4.0)).as("frac"))
      val rendered = graft.ops.Introspect.render(demo, "demo")
      val lines = rendered.split("\n", -1)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Seq((lines(0), lines.length.toLong, md5hex))
        .toDF("first_line", "n_lines", "render_md5")
    }
  )

  /** Expected q147 constants — regenerate by running the query and
    * reading the three cells (they are a pure function of the renderer
    * and the literal demo table, never of fixture data).
    */
  private def renderGoldenOracle: String =
    """SELECT 'Table "demo" [30 rows × 4 cols]' AS first_line,
      |  CAST(36 AS BIGINT) AS n_lines,
      |  'a649de757e8564c5e8932e3e4fdbf788' AS render_md5""".stripMargin

  /** DuckDB replay of ZOrder.zValue(Seq(p_size, p_partkey % 256), 8):
    * bit j of dim i → output position 2j + i, as explicit shift/mask
    * terms (both engines: exact integer bit arithmetic).
    */
  private[queries] def zOracleExpr: String = (0 until 8).flatMap { j =>
    Seq(
      s"(((CAST(p_size * 5 AS BIGINT) >> $j) & 1) << ${2 * j})",
      s"(((CAST(p_partkey % 256 AS BIGINT) >> $j) & 1) << ${2 * j + 1})")
  }.mkString(" | ")
}