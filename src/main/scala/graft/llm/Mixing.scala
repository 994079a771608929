package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-mixture sampling for pretraining corpora (north-star extension):
  * downsample each source/domain deterministically so the kept corpus
  * approximates target mixture WEIGHTS within a total token budget — the
  * "domain reweighting" step every public LLM data recipe runs between
  * curation and packing.
  *
  * 100 TB shape: per-source token totals are a tiny aggregate (one row per
  * source) joined back via broadcast; the corpus itself is scanned once and
  * never shuffled. The keep decision is the stable md5 bucket
  * (Splits.splitBucket semantics) — reproducible across runs, engines and
  * cluster sizes, and filterable at scan time.
  */
object Mixing {

  /** Per-source sampling rate: min(1, weight·targetTokens / sourceTokens).
    * Sources absent from `weights` get weight 0 and are dropped. Rates are
    * capped at 1 — an under-represented source can't be upsampled, so the
    * realized mixture is "as close as dropping-only allows" (the standard
    * single-epoch behavior; document repetition is a training-loop choice,
    * not a data-op).
    */
  def mixtureRates(df: DataFrame, tokenCol: String, sourceCol: String,
      weights: Map[String, Double], targetTokens: Long): DataFrame = {
    require(targetTokens > 0, s"token budget must be positive: $targetTokens")
    weights.values.foreach(w => require(w >= 0, s"negative weight: $w"))
    val w = weights.foldLeft(when(lit(false), lit(0.0))) { case (acc, (s, v)) =>
      acc.when(col(sourceCol) === s, lit(v))
    }.otherwise(lit(0.0))
    df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("source_tokens"))
      .withColumn("rate",
        least(lit(1.0), w * targetTokens / col("source_tokens")))
  }

  /** The kept rows under the mixture: join the (broadcast) per-source rate
    * back and keep rows whose stable bucket clears it. Same 1/65536 bucket
    * resolution as Splits.hashSample, but with a per-row (column) rate.
    */
  def sampleToMixture(df: DataFrame, idCol: String, tokenCol: String,
      sourceCol: String, weights: Map[String, Double], targetTokens: Long): DataFrame = {
    val rates = mixtureRates(df, tokenCol, sourceCol, weights, targetTokens)
      .select(col(sourceCol), col("rate"))
    sampleAtRates(df, idCol, rates, sourceCol)
  }

  /** Temperature-flattened mixture weights — the multilingual sampling
    * rule (mC4 / XLM-R style): source weight ∝ (source tokens)^alpha,
    * alpha ∈ (0, 1]. alpha = 1 keeps the corpus's natural distribution;
    * alpha → 0 approaches uniform-over-sources, boosting small domains.
    * Unlike [[mixtureRates]] the weights derive FROM the corpus, so no
    * hand-tuned map is needed as sources appear/disappear upstream.
    *
    * Shape: the per-source aggregate (|sources| rows) is collected ONCE
    * in the build phase, under a job description naming this operator;
    * the weights and rates are finished over a local relation of those
    * rows, so the returned frame reads no corpus. A lazy rates frame is
    * re-aggregated by each of its consumers: Spark does not reuse an
    * exchange above a cached relation, and callers pass one. The rate
    * is round(·, 6)-quantized so the oracle's libm pow and the JVM's
    * agree on the downstream bucket threshold.
    */
  def temperatureRates(df: DataFrame, tokenCol: String, sourceCol: String,
      alpha: Double, targetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"temperature alpha must be in (0,1]: $alpha")
    require(targetTokens > 0, s"token budget must be positive: $targetTokens")
    val tot = df.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).cast("long").as("source_tokens"))
      .withColumn("__w", pow(col("source_tokens"), lit(alpha)))
    val spark = df.sparkSession
    val rows = graft.GraftConf.withJobDescription(spark,
      s"Mixing.temperatureRates by $sourceCol")(tot.collect())
    // the sum aggregate's rule: nulls skipped, no values -> NULL
    val ws = rows.filterNot(_.isNullAt(2)).map(_.getDouble(2))
    val wsum = if (ws.isEmpty) lit(null).cast("double") else lit(ws.sum)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), tot.schema)
      .withColumn("weight", col("__w") / wsum)
      .withColumn("rate", least(lit(1.0),
        round(col("weight") * lit(targetTokens.toDouble) / col("source_tokens"), 6)))
      .drop("__w")
  }

  /** Kept rows under the temperature mixture (same stable-bucket keep rule
    * as [[sampleToMixture]]).
    */
  def sampleToTemperature(df: DataFrame, idCol: String, tokenCol: String,
      sourceCol: String, alpha: Double, targetTokens: Long): DataFrame =
    sampleAtRates(df, idCol,
      temperatureRates(df, tokenCol, sourceCol, alpha, targetTokens)
        .select(col(sourceCol), col("rate")),
      sourceCol)

  /** Token-budget epoch solver with a repetition cap — the mixture
    * arithmetic a multi-epoch pretraining recipe actually runs (the
    * Llama-style "how many passes over each source" table): allocate a
    * total token budget across sources proportionally to temperature
    * weights w_s ∝ n_s^α, but cap every source at `maxEpochs` passes over
    * its own tokens and WATER-FILL the freed budget back into the
    * uncapped sources. Unlike [[temperatureRates]] (single-epoch,
    * dropping-only: rate ≤ 1) this models UPSAMPLING — a small
    * high-weight source is repeated, up to the cap that protects the run
    * from memorizing it.
    *
    * `iters` rounds of water-filling, each one deterministic arithmetic:
    *   rem  = budget − Σ_capped cap_s        (budget left for the pool)
    *   raw_s = w_s / Σ_uncapped w · rem      (the pool splits it by weight)
    *   alloc_s = min(raw_s, cap_s), newly over-cap sources leave the pool.
    * One round caps at least one source or changes nothing, so
    * |sources| rounds are exact for ANY input; the default (iters ≤ 0)
    * auto-sizes to the source count so no residual budget is ever left
    * silently unspent. An explicit iters pins the round count (the
    * oracle-replay path, where the SQL unrolls a fixed number).
    *
    * Scale shape: the per-source aggregate (|sources| rows) is collected
    * ONCE in the build phase, under a job description naming this
    * operator, as in [[temperatureRates]]; the rounds run over those rows
    * on the driver with Spark's null and double-ordering rules, and the
    * result is rounded over a local relation, so the returned frame reads
    * no corpus. A source with NULL tokens stays out of the pool: its
    * weight, epochs and capped are NULL, and so is its alloc_tok unless
    * the last round had no budget to split (then 0.0). Output one row
    * per source:
    * (source, n_tok, weight, alloc_tok, epochs, capped).
    */
  def tokenBudgetEpochs(df: DataFrame, tokenCol: String, sourceCol: String,
      alpha: Double, budgetTokens: Long, maxEpochs: Double,
      iters: Int = 0): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"temperature alpha must be in (0,1]: $alpha")
    require(budgetTokens > 0, s"token budget must be positive: $budgetTokens")
    require(maxEpochs > 0, s"epoch cap must be positive: $maxEpochs")
    val tot = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(tokenCol)).cast("long").as("n_tok"))
      .withColumn("w", pow(col("n_tok"), lit(alpha)))
    val spark = df.sparkSession
    val rows = graft.GraftConf.withJobDescription(spark,
      s"Mixing.tokenBudgetEpochs by $sourceCol")(tot.collect())
    // Spark's double comparison: -0.0 equals 0.0, NaN sorts above all
    def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
    // Spark's sum: NULLs skipped, a fold from 0.0 in row order, no values -> NULL
    def sumOf(xs: Seq[Double]): Option[Double] =
      if (xs.isEmpty) None else Some(xs.foldLeft(0.0)(_ + _))
    // the pool: the sources with tokens (w is NULL exactly when n_tok is)
    val pool = rows.indices.filterNot(rows(_).isNullAt(1))
    val w = rows.map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    val cap = rows.map(r => if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble * maxEpochs)
    val capped = Array.fill(rows.length)(false)
    val alloc = Array.fill(rows.length)(0.0)
    var split = false
    for (_ <- 1 to (if (iters >= 1) iters else math.max(1, rows.length))) {
      val wsum = sumOf(pool.filterNot(capped(_)).map(w(_)))
      val rem = budgetTokens.toDouble - sumOf(pool.filter(capped(_)).map(alloc(_))).getOrElse(0.0)
      split = wsum.exists(cmp(_, 0.0) > 0) && cmp(rem, 0.0) > 0
      for (s <- pool if !capped(s)) {
        val raw = if (split) w(s) / wsum.get * rem else 0.0
        capped(s) = cmp(raw, cap(s)) >= 0
        alloc(s) = if (cmp(cap(s), raw) < 0) cap(s) else raw
      }
    }
    val wsumAll = sumOf(pool.map(w(_))).map(Double.box).orNull
    // a NULL-token source's alloc is its last round's raw share: NULL
    // while the pool splits a budget, 0.0 once there is none to split
    val out = rows.indices.map { s =>
      val (a, c) = if (rows(s).isNullAt(1)) (if (split) null else 0.0, null)
        else (alloc(s), capped(s))
      org.apache.spark.sql.Row.fromSeq(rows(s).toSeq ++ Seq(wsumAll, a, c))
    }
    val schema = tot.schema.add("wsum_all", "double").add("alloc", "double")
      .add("capped", "boolean")
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      .select(col("source"), col("n_tok"),
        round(col("w") / col("wsum_all"), 6).as("weight"),
        round(col("alloc"), 4).as("alloc_tok"),
        round(col("alloc") / col("n_tok"), 6).as("epochs"),
        col("capped"))
  }

  /** Kept rows under an explicit per-source `(source, rate)` frame — the
    * shared keep rule of [[sampleToMixture]] / [[sampleToTemperature]].
    * Public so a caller that already computed the rates (to emit them)
    * can reuse that frame instead of re-deriving it — the rates derive
    * from a corpus aggregate, so recomputing them re-scans (and for
    * kernel-priced token counts, re-tokenizes) the whole corpus
    * (round 16: q161 ran the full-byte BPE count 5× for one answer).
    */
  def sampleAtRates(df: DataFrame, idCol: String, rates: DataFrame,
      sourceCol: String): DataFrame =
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(Splits.splitBucket(col(idCol), 65536) < (col("rate") * 65536).cast("long"))
      .drop("rate")

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much its hashed-unigram feature distribution resembles a TARGET
    * slice versus the whole corpus —
    * dsir_logw(d) = Σ_b c_db · ln(p_target(b) / p_corpus(b)) / n_d,
    * over `buckets` hashed feature buckets with add-α smoothing on both
    * distributions (so buckets absent from the target stay finite). A
    * selection pass keeps the top-weighted documents; emitting the raw
    * per-doc log-weight keeps that policy (threshold, quantile, gumbel
    * top-k) out of the scoring operator.
    *
    * The bucket hash is the portable md5-prefix rule ([[Splits.splitBucket]]
    * semantics, applied to the token), so weights are reproducible across
    * engines, runs, and cluster sizes. Distributed shape: one tokenization
    * pass to (doc, bucket) count triplets; both distributions re-aggregate
    * those counts into `buckets`-row frames that broadcast into the scoring
    * join — documents never shuffle whole. Zero-token docs emit
    * (n_tok=0, NULL); an empty target slice yields NULL weights everywhere
    * (there is no distribution to resample toward).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String, targetPred: Column,
      buckets: Int = 64, alpha: Double = 0.5,
      tokens: Column => Column = TextAnalysis.wordTokens): DataFrame = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    val toks = df.select(col(idCol).as("id"), targetPred.as("is_target"),
      explode(tokens(col(textCol))).as("term"))
    // both distributions and the scoring pass reuse the counts
    val bc = graft.ops.CacheRegistry.persist(toks
      .select(col("id"), col("is_target"),
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("long") % buckets).as("bucket"))
      .groupBy(col("id"), col("is_target"), col("bucket")).agg(count(lit(1)).as("c")))
    // ONE bucket-keyed aggregate carries both distributions (the old
    // tgt/cor/tTot/cTot quartet ran four separate passes over the cached
    // counts); the two grand totals re-aggregate the |buckets|-row frame,
    // not the counts. Conditional long sums are the same sums in the same
    // order per bucket — values identical.
    val byBucket = graft.ops.CacheRegistry.persist(bc.groupBy(col("bucket")).agg(
        sum(col("c")).as("cc"),
        sum(when(col("is_target"), col("c"))).as("tc")))
    val tots = byBucket.agg(sum(col("cc")).cast("double").as("ct"),
      sum(col("tc")).cast("double").as("tt"))
    val aB = alpha * buckets
    val pT = (coalesce(col("tc"), lit(0L)) + alpha) / (col("tt") + aB)
    val pC = (col("cc") + alpha) / (col("ct") + aB)
    val scored = bc.join(broadcast(byBucket), "bucket")
      .crossJoin(broadcast(tots))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tok"),
        (sum(col("c") * log(pT / pC)) / sum(col("c"))).as("w"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        round(col("w"), 6).as("dsir_logw"))
  }
}
