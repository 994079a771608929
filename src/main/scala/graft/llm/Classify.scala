package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed linear text classification (north-star extension): the
  * trained counterpart of the heuristic quality/lang-ID ladder. A
  * count-based MULTINOMIAL NAIVE BAYES over hashed word-unigram features
  * — the fastText-style hashed linear classifier family reduced to its
  * deterministic core, which is what makes it oracle-replayable: training
  * is pure counting (no SGD order-dependence), the feature hash is the
  * portable md5-prefix bucket the DSIR machinery already uses
  * ([[Mixing.dsirWeights]]), and scoring is one broadcast join + one
  * count-triplet aggregation. This is the production shape of both
  * language-ID (labels = languages) and the CCNet/GPT-3
  * "looks-like-reference-corpus" quality filter (labels = ref/other).
  *
  * 100 TB shape: TRAINING is one tokenization pass to (label, bucket)
  * count triplets — documents never shuffle, and the model is a dense
  * (labels × buckets) table, a true constant (|labels| ≤ dozens,
  * buckets ≤ thousands). SCORING aggregates per-doc bucket counts (one
  * count-triplet shuffle), joins the BROADCAST model, and argmaxes over
  * a per-doc window — no corpus-sized state anywhere.
  *
  * Determinism/oracle contract: the model is FIXED-POINT — per-cell
  * log-likelihoods and log-priors as integer NANO-units (the single
  * float op per cell is the training-time ln, whose outputs sit nowhere
  * near decimal half-way points) — so scoring, ranking, and margins are
  * exact long arithmetic: bit-identical on any engine in any addition
  * order, cell-exact under DuckDB replay at every SF (a double-sum
  * formulation's last-ulp wobble flipped round-6 about once per 5k
  * scores at sf0.1).
  */
object Classify {

  /** Portable feature bucket: md5-prefix 16 bits mod `buckets` (the
    * [[Mixing.dsirWeights]] / Splits.splitBucket hashing convention).
    */
  def featureBucket(term: Column, buckets: Int): Column =
    conv(substring(md5(term), 1, 4), 16, 10).cast("long") % buckets

  /** Train a multinomial NB model on `(labelCol, textCol)` rows: returns
    * the DENSE (label, bucket, w_u, prior_u) weight table in integer
    * nano-units — w_u = round(ln((c_lb + α) / (N_l + αB)) · 1e9) with
    * add-α smoothing (every bucket of every label present, so scoring
    * needs no missing-key handling), prior_u = round(ln(docs_l / docs) ·
    * 1e9). One tokenization pass; everything after aggregates count
    * triplets.
    */
  def nbTrain(df: DataFrame, labelCol: String, textCol: String,
      buckets: Int = 64, alpha: Double = 0.5,
      tokens: Column => Column = TextAnalysis.wordTokens): DataFrame = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    val toks = df.select(col(labelCol).as("label"),
      explode(tokens(col(textCol))).as("term"))
    // persisted: nbModelFromCounts consumes the counts twice (per-label
    // totals + the dense-grid join), and without the cache each
    // evaluation re-runs the tokenization pass over the corpus. The frame
    // is ≤ |labels| × buckets rows — trivially cacheable.
    val counts = graft.ops.CacheRegistry.persist(toks
      .select(col("label"), featureBucket(col("term"), buckets).as("bucket"))
      .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("c")))
    val docs = df.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nd"))
    nbModelFromCounts(counts, docs, buckets, alpha)
  }

  /** The counts→model half of [[nbTrain]]: derive the dense weight table
    * from pre-aggregated `(label, bucket, c)` token-bucket counts and
    * `(label, nd)` doc counts. The split is what makes training
    * INCREMENTAL: counts are additive, so a streaming trainer merges
    * per-batch triplets into cumulative state and re-derives the model
    * from counts alone ([[nbTrainStreaming]]) — text is tokenized once,
    * in its arrival batch.
    *
    * Weights are FIXED-POINT: `w_u`/`prior_u` are the log-likelihood and
    * log-prior in integer NANO-units (round(ln(·)·1e9) as BIGINT). The
    * one float operation per cell happens here, where raw ln outputs sit
    * nowhere near decimal half-way points; everything downstream —
    * scores, ranking, margins — is exact long arithmetic, which is what
    * makes scoring bit-identical on any engine in any addition order (a
    * double score sum's last-ulp wobble flipped round-6 at half-way
    * decimals about once per 5k scores, caught by the sf0.1 stress
    * verify).
    */
  def nbModelFromCounts(counts: DataFrame, docs: DataFrame,
      buckets: Int, alpha: Double): DataFrame = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    val totals = counts.groupBy(col("label")).agg(sum(col("c")).as("n"))
    val docsTot = docs.agg(sum(col("nd")).cast("double").as("ndt")) // maxRows = 1
    // dense grid WITHOUT a cross join: explode the bucket range under each
    // label row (|labels| × buckets rows, a constant-bounded frame).
    // `docs` is the label UNIVERSE (left join): a label whose training
    // docs produced zero tokens still gets its prior and the uniform
    // smoothed weights ln(α/(0 + αB)) = ln(1/B) — silently dropping it
    // would shift every other prior and make the label unpredictable
    val grid = docs.join(totals, Seq("label"), "left").crossJoin(broadcast(docsTot))
      .select(col("label"), coalesce(col("n"), lit(0L)).as("n"), col("nd"), col("ndt"),
        explode(sequence(lit(0), lit(buckets - 1))).as("bucket"))
    grid.join(counts, Seq("label", "bucket"), "left")
      .select(col("label"), col("bucket").cast("long").as("bucket"),
        round(log((coalesce(col("c"), lit(0L)) + alpha) /
          (col("n") + alpha * buckets)) * 1e9, 0).cast("long").as("w_u"),
        round(log(col("nd") / col("ndt")) * 1e9, 0).cast("long").as("prior_u"))
  }

  /** STREAMING NB training — distributed linear-model training as an
    * ingest loop: each micro-batch's `(label, bucket, c)` token-bucket
    * triplets and per-label doc counts (a `bucket = -1` sentinel row —
    * the feature domain is [0, buckets)) merge into epoch-partitioned
    * state, and the batch emits the full dense model snapshot re-derived
    * from cumulative counts. Counts are additive, so the FINAL snapshot
    * equals batch [[nbTrain]] over everything streamed (the q136/q158
    * proof pattern), at-least-once re-runs converge by epoch isolation,
    * and `compactEvery` folds settled epochs into one summed generation.
    * State is |labels| × (buckets+1) rows per epoch — a true constant.
    *
    * `snapshotEvery` > 1 emits the dense model only at GENERATION
    * boundaries (every `snapshotEvery`-th batch) — the frozen-generation
    * pattern (q186) applied to training: a non-boundary trigger only
    * tokenizes its batch and appends count triplets (strictly O(batch)
    * work, no settled-state read at all), and consumers hold the last
    * generation's model between boundaries. Counts stay additive, so
    * each emitted snapshot still equals batch [[nbTrain]] over
    * everything streamed through it. Default 1 = a snapshot per batch.
    *
    * Returns the model snapshots read back from `outDir`:
    * (batch_id, label, bucket, w_u, prior_u).
    */
  def nbTrainStreaming(spark: org.apache.spark.sql.SparkSession, stagedDir: String,
      schema: org.apache.spark.sql.types.StructType, labelCol: String, textCol: String,
      buckets: Int, alpha: Double, stateDir: String, outDir: String,
      checkpointDir: Option[String] = None,
      compactEvery: Int = 0,
      snapshotEvery: Int = 1): DataFrame = {
    require(snapshotEvery >= 1, s"snapshot cadence must be >= 1: $snapshotEvery")
    val modelSchema = new org.apache.spark.sql.types.StructType()
      .add("label", schema(labelCol).dataType)
      .add("bucket", "bigint").add("w_u", "bigint").add("prior_u", "bigint")
    EpochStream.run(spark, stagedDir, schema, checkpointDir,
        outDir, modelSchema) { (batch, batchId) =>
      val tok = batch.select(col(labelCol).as("label"),
          explode(TextAnalysis.wordTokens(col(textCol))).as("term"))
        .select(col("label"), featureBucket(col("term"), buckets).as("bucket"))
        .groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("c"))
      val docRows = batch.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("c")).withColumn("bucket", lit(-1L))
        .select(col("label"), col("bucket"), col("c"))
      val bt = tok.unionByName(docRows)
      new StateFamily(bt.sparkSession, stateDir, bt.schema, StateFamily.Stream)
        .accumulate(bt, batchId, compactEvery, emit = (batchId + 1) % snapshotEvery == 0) { cum =>
          EpochStream.writeSnapshot(nbModelFromCounts(
              cum.filter(col("bucket") >= 0),
              cum.filter(col("bucket") === -1L).select(col("label"), col("c").as("nd")),
              buckets, alpha), outDir, batchId)
        }
    }
  }

  /** Score + classify `df` under a trained model. Output per document:
    * `score_u` = the nano-unit per-label score prior_u + Σ_t c_t·w_u of
    * the argmax label (tie-break label ascending), the `predicted` and
    * `runner_up` labels, and `margin_u` = the exact nano-unit gap to the
    * runner-up — all long arithmetic (divide by 1e9 for log-probability
    * units). Zero-token documents carry NULL
    * prediction/score_u/runner_up/margin_u (no features — a selection
    * pass must see them, not silently call them any class). `buckets`
    * must match training (the model is dense, so a mismatch fails loudly
    * in the join, not silently).
    */
  def nbClassify(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, buckets: Int = 64,
      tokens: Column => Column = TextAnalysis.wordTokens): DataFrame = {
    val docBuckets = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .select(col("id"), featureBucket(col("term"), buckets).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("c"))
    // EXACT long arithmetic end to end: identical on any engine in any
    // addition order, so score, ranking, runner-up AND margin are all
    // hash-stable gate columns (score_u/margin_u are nano-units; divide
    // by 1e9 for the human-readable log-probability)
    val scored = docBuckets.join(broadcast(model), Seq("bucket"))
      .groupBy(col("id"), col("label"))
      .agg(sum(col("c")).as("n_tok"),
        (max(col("prior_u")) + sum(col("c") * col("w_u"))).as("score_u"))
    val w = Window.partitionBy(col("id")).orderBy(col("score_u").desc, col("label"))
    val best = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("runner_up", lead(col("label"), 1).over(w))
      .withColumn("margin_u", col("score_u") - lead(col("score_u"), 1).over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("n_tok"), col("label").as("predicted"), col("score_u"),
        col("runner_up"), col("margin_u"))
    df.select(col(idCol).as("id")).join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        col("predicted"), col("score_u"), col("runner_up"), col("margin_u"))
  }
}
