package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{GraftTable, Restructure, Skew}
import org.apache.spark.sql.functions._

/** Selection / restructuring / numeric-aggregation queries
  * (SURVEY.md §2.6, §2.7, §2.8).
  */
object StructureQueries {

  val defs: Seq[QueryDef] = Seq(

    // .c()/.r() selection DSL: column projection + contiguous row range
    // under explicit order (selection.rs:87,119 — contiguity fast path).
    // Fixed-width histogram (agg-battery §2.6 adjacent): one map-side-
    // combined groupBy on the bin id — the portable floor-arithmetic form
    // (no engine-specific width_bucket variance).
    QueryDef.sql(
      "q85_histogram",
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(MIN(l_extendedprice), 2) AS lo,
        |  ROUND(MAX(l_extendedprice), 2) AS hi
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy(col("bin"))
    },

    QueryDef.sql(
      "q25_selection_range",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey LIMIT 15 OFFSET 10""".stripMargin) { (s, d) =>
      GraftTable(Tables.customer(s, d))
        .c("c_custkey", "c_name", "c_acctbal")
        .r(10, 25, col("c_custkey"))
        .toDF
    },

    // Arbitrary row-index list selection (selection.rs:324-408).
    QueryDef.sql(
      "q26_selection_indices",
      """SELECT c_custkey, c_mktsegment FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    row_number() OVER (ORDER BY c_custkey) - 1 AS rn
        |  FROM customer) WHERE rn IN (0, 5, 10, 50, 100)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      GraftTable(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")))
        .rIdx(Seq(0L, 5L, 10L, 50L, 100L), col("c_custkey"))
        .toDF.orderBy(col("c_custkey"))
    },

    // split → concat round-trip + add/rename/map column ops
    // (table.rs:212-519, traits/concatenate.rs:96).
    QueryDef.sql(
      "q27_restructure",
      """SELECT c_custkey, c_name AS name, c_acctbal * CAST(0.9 AS DOUBLE) AS acctbal_eur,
        |  c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      val even = cust.filter(col("c_custkey") % 2 === 0)
      val odd = cust.filter(col("c_custkey") % 2 =!= 0)
      val merged = Restructure.concatTables(Seq(even, odd))
      val withEur = Restructure.addCol(merged, "acctbal_eur", col("c_acctbal") * lit(0.9))
      val renamed = Restructure.renameColumns(withEur, Map("c_name" -> "name"))
      Restructure.removeCol(renamed, "c_nationkey")
        .select(col("c_custkey"), col("name"), col("acctbal_eur"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // Numeric aggregation battery (SURVEY.md §2.6 — the engine-layer agg
    // surface; sampling estimators → approx_count_distinct is rows-only
    // checked in q29).
    QueryDef.sql(
      "q28_numeric_aggs",
      """SELECT l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_q,
        |  ROUND(AVG(l_extendedprice), 4) AS avg_p,
        |  ROUND(MIN(l_extendedprice), 2) AS min_p,
        |  ROUND(MAX(l_extendedprice), 2) AS max_p,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(stddev_samp(l_quantity), 4) AS sd_q,
        |  ROUND(var_samp(l_quantity), 4) AS var_q,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  ROUND(median(l_quantity), 2) AS med_q
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_q"),
          round(avg(col("l_extendedprice")), 4).as("avg_p"),
          round(min(col("l_extendedprice")), 2).as("min_p"),
          round(max(col("l_extendedprice")), 2).as("max_p"),
          count(lit(1)).as("n"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_q"),
          round(var_samp(col("l_quantity")), 4).as("var_q"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(median(col("l_quantity")), 2).as("med_q"))
        .orderBy(col("l_linestatus"))
    },

    // Sampling cardinality estimation (utils.rs:327,348) → HLL sketch.
    // Approx estimates differ by engine, so the GATE row checks the guard
    // instead: the exact distinct counts (oracle-replayable) plus a boolean
    // per estimator asserting the HLL++ estimate landed inside a 3·rsd
    // envelope (default rsd 0.05 → 15%). A broken sketch kernel flips the
    // boolean and the driver's hash compare catches it — no more bare
    // rows-only row (the estimates themselves stay pinned by spec).
    QueryDef.sql(
      "q29_approx_cardinality",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  true AS parts_ok, true AS orders_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Two pre-deduped (flag, key) pipelines instead of one
      // multi-DISTINCT aggregate: Catalyst plans n distinct aggregates as
      // an Expand (n+1 copies of every input row through the shuffle);
      // the two-level form shuffles each key ONCE with map-side partial
      // aggregation, and the HLL runs over the deduped keys — identical
      // estimate (HLL of a set == HLL of the multiset), same guard.
      def dedupCard(keyCol: String, exactName: String, approxName: String) =
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col(keyCol)).agg(count(lit(1)).as("__n"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as(exactName),
            approx_count_distinct(col(keyCol)).as(approxName))
      dedupCard("l_partkey", "exact_parts", "ap")
        .join(dedupCard("l_orderkey", "exact_orders", "ao"), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * lit(0.15)).as("parts_ok"),
          (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * lit(0.15)).as("orders_ok"))
        .orderBy(col("l_returnflag"))
    },

    // The reference's sampling-based cardinality estimator REPLAYED
    // exactly (utils.rs:327,348): every step-th row in key order,
    // distinct-in-sample capped at the sample size, ratio over
    // min(sample, n). Fully deterministic (unlike the HLL twin q29 whose
    // error is engine-specific), so the oracle is cell-exact; 256 is a
    // power of two, keeping the ratio division exact in f64. Low-card
    // (o_orderpriority) and unique (c_name) columns cover both regimes
    // the reference uses the estimate to distinguish.
    QueryDef.sql(
      "q133_sample_cardinality",
      """WITH po AS (
        |  SELECT o_orderpriority AS v, row_number() OVER (ORDER BY o_orderkey) - 1 AS i,
        |    (SELECT COUNT(*) FROM orders) AS n FROM orders),
        |so AS (SELECT v FROM po WHERE i % GREATEST(n // CAST(256 AS BIGINT), 1) = 0),
        |r1 AS (SELECT CAST(LEAST(COUNT(DISTINCT v), 256) AS DOUBLE)
        |         / CAST(LEAST(256, (SELECT COUNT(*) FROM orders)) AS DOUBLE) AS lo_ratio FROM so),
        |pc AS (
        |  SELECT c_name AS v, row_number() OVER (ORDER BY c_custkey) - 1 AS i,
        |    (SELECT COUNT(*) FROM customer) AS n FROM customer),
        |sc AS (SELECT v FROM pc WHERE i % GREATEST(n // CAST(256 AS BIGINT), 1) = 0),
        |r2 AS (SELECT CAST(LEAST(COUNT(DISTINCT v), 256) AS DOUBLE)
        |         / CAST(LEAST(256, (SELECT COUNT(*) FROM customer)) AS DOUBLE) AS hi_ratio FROM sc)
        |SELECT lo_ratio, hi_ratio FROM r1, r2""".stripMargin) { (s, d) =>
      import graft.ops.Sketches
      val lo = Sketches.sampleCardinalityRatio(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderpriority", Seq(col("o_orderkey")), 256)
        .withColumnRenamed("ratio", "lo_ratio")
      val hi = Sketches.sampleCardinalityRatio(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          "c_name", Seq(col("c_custkey")), 256)
        .withColumnRenamed("ratio", "hi_ratio")
      lo.crossJoin(hi)
    },

    // Mergeable-sketch reaggregation — the 100 TB rollup pattern: build
    // HLL sketches once at fine grain (per priority × year, the "silver
    // table" shape), then answer the coarse question by UNIONING sketches
    // (hll_union_agg) instead of rescanning raw data. Estimates are
    // engine/implementation-specific → rows-only; ScaleSpec pins
    // merge-vs-direct identity and the error envelope vs exact counts.
    // Gate-checkable form: the oracle replays the exact distinct counts and
    // expects two invariants as literal-true booleans — (1) the union of
    // fine-grain sketches estimates within 2% of a direct coarse sketch
    // (register merge is lossless in sparse mode — ScaleSpec pins exact
    // equality there — but the union path's sparse→dense promotion shifts
    // the estimator ~1% at sf0.01 cardinalities, measured), (2) the
    // rolled-up estimate lands inside a 5% envelope of exact.
    QueryDef.sql(
      "q100_sketch_rollup",
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
        |  true AS rollup_close, true AS within_env
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val fine = orders
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val merged = fine.groupBy(col("o_orderpriority"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_m"))
      val direct = orders.groupBy(col("o_orderpriority"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est_d"),
          countDistinct(col("o_custkey")).as("exact_customers"))
      merged.join(direct, "o_orderpriority")
        .select(col("o_orderpriority"), col("exact_customers"),
          (abs(col("est_m") - col("est_d")) <= col("exact_customers") * lit(0.02))
            .as("rollup_close"),
          (abs(col("est_m") - col("exact_customers")) <= col("exact_customers") * lit(0.05))
            .as("within_env"))
        .orderBy(col("o_orderpriority"))
    },

    // Count-min sketch point-frequency probes — the "how frequent is THIS
    // item" estimator next to HLL's "how many items" (q29) and
    // Misra-Gries' "which items" (q95). CMS partial sketches merge by
    // cell-wise ADDITION (merge-order independent), so estimates are
    // deterministic for a fixed seed; on a 5-value domain with a
    // 2·10⁴-cell row the probe estimates carry no collisions, so the
    // oracle can pin them to the EXACT counts — the eps·N bound proven in
    // ScaleSpec guards the general case.
    QueryDef.sql(
      "q109_countmin",
      """SELECT o_orderpriority AS probe, CAST(COUNT(*) AS BIGINT) AS est
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val probes = Tables.orders(s, d).select(col("o_orderpriority"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      graft.ops.Sketches.countMinEstimates(s, Tables.orders(s, d),
          col("o_orderpriority"), probes)
        .orderBy(col("probe"))
    },

    // Aggregate extras battery: bitwise aggregation (the columnar
    // bitmask-fold siblings of §2.2's popcount/all_true), boolean
    // all/any as aggregates (all_eq/all_ne surface), conditional count,
    // and arg-min/arg-max with a UNIQUE ordering key so both engines
    // pick the same row deterministically.
    QueryDef.sql(
      "q116_agg_extras",
      """SELECT l_linestatus,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS band,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
        |  CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.09) AS any_big_disc,
        |  CAST(count_if(l_returnflag = 'R') AS BIGINT) AS n_returned,
        |  arg_min(l_returnflag, l_orderkey * 10 + l_linenumber) AS first_flag,
        |  arg_max(l_returnflag, l_orderkey * 10 + l_linenumber) AS last_flag
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          bit_and(col("l_linenumber")).cast("long").as("band"),
          bit_or(col("l_linenumber")).cast("long").as("bor"),
          bit_xor(col("l_linenumber")).cast("long").as("bxor"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_discount") > 0.09).as("any_big_disc"),
          count_if(col("l_returnflag") === "R").as("n_returned"),
          min_by(col("l_returnflag"), col("l_orderkey") * 10 + col("l_linenumber")).as("first_flag"),
          max_by(col("l_returnflag"), col("l_orderkey") * 10 + col("l_linenumber")).as("last_flag"))
        .orderBy(col("l_linestatus"))
    },

    // Salted skew join (§2.9 #71, previously spec-only): the explicit-plan
    // skew mitigation — the big side's hot keys split across `factor`
    // deterministic sub-keys, the small side replicated factor× — must be
    // RESULT-identical to the plain join, which is exactly what the plain
    // SQL oracle replays. One shuffle on (key, salt); no single reducer
    // sees a whole hot key.
    QueryDef.sql(
      "q143_salted_join",
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(li, ord, Seq("o_orderkey"), factor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // TableV::to_table materialization (§2.7 #55, previously spec-only):
    // slice a 500-row window under total order, materialize it (persist +
    // force — the reference's view→owned-table copy), then aggregate FROM
    // the materialized form. The oracle replays the slice as
    // ORDER BY/LIMIT/OFFSET, so a materialization that altered content or
    // double-counted rows breaks the hash.
    QueryDef.sql(
      "q144_materialize_slice",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 500 OFFSET 100)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val sliced = GraftTable(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
        .r(100, 600, col("o_orderkey"))
        .materialize()
      sliced.toDF
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },

    // rechunkByKey + consolidate (§2.8 #59, previously spec-only):
    // re-partitioning by the grouping key is content-neutral AND
    // co-locates the following groupBy — Catalyst reuses the hash
    // partitioning, so the aggregate runs with NO second exchange
    // (PlansSpec asserts the single-shuffle shape); consolidate folds the
    // per-group results to one chunk. The oracle is the plain aggregate.
    QueryDef.sql(
      "q145_rechunk_agg",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(AVG(l_extendedprice), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val rechunked = Restructure.rechunkByKey(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")),
        8, col("l_returnflag"))
      Restructure.consolidate(
        rechunked.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price")))
        .orderBy(col("l_returnflag"))
    }
  )
}
