package graft.llm

import graft.expressions.{MinHashSig, ShingleTokens, SimHash64}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines (north-star
  * extension). Four families, each chosen for 100 TB shape:
  *
  *  - exact: hash-groupBy on a fingerprint — one shuffle on a short key,
  *    never on the full document text;
  *  - MinHash+LSH: shingle → k minhashes → band buckets → candidate pairs
  *    only within buckets (no all-pairs O(n²) stage anywhere), then exact
  *    Jaccard verification of candidates;
  *  - SimHash: 64-bit signature, near-dup = small Hamming distance; bucket
  *    by maxHamming+1 chunks (pigeonhole: ≤maxHamming differing bits ⇒ at
  *    least one chunk equal, so recall is exactly 1);
  *  - n-gram Jaccard: exact similarity via inverted index self-join on
  *    shingles (pairs sharing ≥1 shingle), linear in index size.
  *
  * Signatures are single-pass custom codegen expressions (ShingleTokens /
  * MinHashSig / SimHash64) — no UDFs, no driver-side loops, no per-element
  * lambda re-evaluation.
  */
object Dedup {

  /** Exact dedup: keep the minimum id per key group. The groupBy key should
    * be a fingerprint (md5/rolling-hash) rather than raw content so the
    * shuffle moves 16-byte keys, not documents.
    */
  def exact(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(keyCol.as("dup_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct lowercase word-token array (single-pass kernel). */
  def tokens(text: Column): Column = shingles(text, 1)

  /** Distinct n-word shingles (default 3) — one-pass ShingleTokens kernel;
    * the equivalent transform/slice lambda formulation re-evaluates the
    * tokenizer per element (measured 30µs/row vs ~1µs here).
    */
  def shingles(text: Column, n: Int = 3): Column =
    toCol(ShingleTokens(toExpr(text.cast("string")), n))

  /** One OUTPUT ROW per distinct shingle, with first-occurrence position —
    * the kernel and the explode fused into one table-generating expression
    * (graft.expressions.ShingleExplode, the §2.12 UDTF leg); inverted-index
    * pipelines skip materializing the intermediate array.
    */
  def shingleRows(text: Column, n: Int = 3): Column =
    toCol(graft.expressions.ShingleExplode(toExpr(text.cast("string")), n))

  /** k-permutation MinHash signature (array<long>) over the n-shingle set
    * of `text` — single-pass MinHashSig kernel (31-bit prime field,
    * seed-derived permutations).
    */
  def minHashSignature(text: Column, n: Int = 3, k: Int = 32, seed: Long = 42L): Column =
    toCol(MinHashSig(toExpr(text.cast("string")), n, k, seed))

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * bucket-join docs sharing any band, verify with exact Jaccard over
    * shingle sets. `maxBucket` caps pathological buckets (skew guard —
    * at scale a hot bucket would otherwise quadratically explode one task).
    *
    * Returns (id1, id2, jaccard) with id1 < id2, jaccard >= threshold.
    */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    // persisted: consumed twice (banding below + shingle re-attach for
    // verification) — without the cache the shingle/minhash kernels would
    // re-scan the full corpus a second time. CacheRegistry bounds the pin.
    val withSig = graft.ops.CacheRegistry.persist(df.select(
      col(idCol).as("id"),
      shingles(col(textCol)).as("sh"),
      minHashSignature(col(textCol), 3, bands * rowsPerBand).as("sig")))
    val banded = withSig.select(
      col("id"), col("sh"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))): _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band"), col("bb.bkey"))
    // skew guard: drop buckets above maxBucket before the self-join
    val counted = banded.withColumn("bsz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("bsz") <= maxBucket)
    // candidate id pairs first (distinct over 16-byte keys, not over the
    // shingle arrays), then re-attach shingle sets for exact verification
    val l = counted.select(col("band"), col("bkey"), col("id").as("id1"))
    val r = counted.select(col("band"), col("bkey"), col("id").as("id2"))
    val cand = l.join(r, Seq("band", "bkey")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    verifyPairs(cand, withSig, withSig, "sh", threshold, hintBroadcast = false)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** 64-bit SimHash signature (custom codegen expression). */
  def simHash(text: Column): Column = toCol(SimHash64(toExpr(text.cast("string"))))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Bucketing splits the 64-bit signature into `maxHamming + 1` chunks:
    * by pigeonhole, two signatures differing in <= maxHamming bits MUST
    * agree on at least one chunk, so candidate recall is exactly 1 (proved
    * against brute force in LlmSpec). More chunks = wider buckets = more
    * candidates, so callers pay for exactly the radius they ask for.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simHashPairsFromSigs(
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), simHash(nonNullText(textCol)).as("sig")), maxHamming)

  /** `textCol` as a non-nullable string for a signature kernel over text
    * already filtered to non-null. The kernel's output is then
    * non-nullable, so the pairing join's inferred `isnotnull(sig)`
    * holds by type; over a nullable input Catalyst pushes it below the
    * projection as `isnotnull(kernel(text))`, a second kernel run per row.
    */
  private def nonNullText(textCol: String): Column =
    coalesce(col(textCol).cast("string"), lit(""))

  /** Pigeonhole pairing over a prebuilt (id, sig: long) frame — shared by
    * the production kernel signature ([[simHash]]), the portable md5
    * signature ([[simHashMd5Sigs]]), and the image dHash
    * ([[Multimodal.dHashPairs]]). `keepSigs` threads sig1/sig2 into the
    * output (sig is functionally determined by id, so the distinct is
    * unchanged) — callers that pin signature values avoid a re-join.
    *
    * The join is a self-join of the banded frame, renamed only above
    * it, so both sides plan the same (band, chunk) exchange and the
    * adaptive planner reuses it: renamed below the join, the two
    * exchanges differ, and each side runs the signature kernel upstream
    * again. The exchange is the join's own, so a skewed (band, chunk)
    * key can still be split.
    */
  def simHashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
      keepSigs: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming must be in [0, 64): $maxHamming")
    val nChunks = maxHamming + 1
    // 64 bits split as evenly as possible: first (64 % n) chunks get an extra bit
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _).init
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until nChunks).map { b =>
        val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), starts(b)).bitwiseAND(lit(mask)).as("chunk"))
      }: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.chunk"))
    val hammingCol =
      bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("long").as("hamming")
    // a merge join reads the one exchange on both sides; a broadcast of
    // one side would add a job to collect it
    val joined = banded.as("l").join(banded.as("r").hint("merge"), Seq("band", "chunk"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        col("l.sig").as("sig1"), col("r.sig").as("sig2"))
      .filter(col("id1") < col("id2"))
    val picked =
      if (keepSigs) joined.select(col("id1"), col("id2"), hammingCol, col("sig1"), col("sig2"))
      else joined.select(col("id1"), col("id2"), hammingCol)
    picked.distinct().filter(col("hamming") <= maxHamming)
  }

  /** ENGINE-PORTABLE 64-bit SimHash on the SAME feature basis as the
    * [[simHash]] kernel — frequency-weighted raw whitespace tokens (each
    * occurrence votes; case and punctuation kept) — but with md5 as the
    * bit source, split into two 32-bit halves (hex digits 1-8 / 9-16):
    * md5 is identical in every engine and 32-bit values keep ALL
    * arithmetic exact in doubles, so an oracle can replay the signature
    * digit-for-digit (the role the splitmix64 kernel cannot fill: no
    * engine-neutral 64-bit wrapping ops). Bit b of the signature is
    * sign(Σ_occurrences (2·bit_b(token) − 1)) with ties → 0.
    *
    * The multiset basis matters operationally, not just for fidelity:
    * measured on the sf0.1 fixture, a distinct-WORD-set basis collapses
    * template-generated docs onto near-identical signatures (967k pairs
    * at Hamming ≤ 6 vs the kernel's 14k) — frequency weighting is what
    * keeps SimHash discriminative on templated corpora.
    *
    * Docs with zero tokens carry no signal and are EXCLUDED (mirrors the
    * letterless-phantom rule in ngramJaccardPairs).
    *
    * Shape: everything up to the pair join is per-doc map-side HOF
    * folds — tokens never shuffle, only (id, sig) pairs enter banding.
    */
  def simHashMd5Sigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // codegen kernel, not a HOF fold: higher-order functions run
    // interpreted, and an md5-per-token × 64-bit fold over a corpus is
    // exactly the hot path they are worst at (measured at sf0.1: 65 s as
    // nested HOFs, 9 s with the loop inverted, 0.3 s as this kernel —
    // same signatures each time)
    val sig = toCol(graft.expressions.SimHashMd5(toExpr(nonNullText(textCol))))
    // the zero-token exclusion must use the KERNEL's separator class
    // [ \t\n\f\r] (= the oracle's RE2 \s), not Java \s — Java \s also
    // eats \x0B, so a vertical-tab-only doc would be excluded here while
    // the oracle signs it, a latent cell-exactness divergence. A null
    // text has a null __nchr and is dropped, so the kernel reads it as ""
    df.select(col(idCol).as("id"), sig.as("sig"),
        length(regexp_replace(col(textCol).cast("string"), "[ \t\n\f\r]", "")).as("__nchr"))
      .filter(col("__nchr") > 0)
      .select(col("id"), col("sig"))
  }

  /** [[simHashPairs]] with the portable md5 signature — same pigeonhole
    * blocking (recall exactly 1 at the radius), every cell replayable by
    * a SQL oracle.
    */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simHashPairsFromSigs(simHashMd5Sigs(df, idCol, textCol), maxHamming)

  /** ENGINE-PORTABLE MinHash-LSH near-dup pairs (the oracle-replayable
    * twin of [[minHashLshPairs]], which uses a JVM permutation kernel):
    * base hash = md5 hi-32 of each distinct 3-word shingle (< 2^32, so
    * every value is exact in any engine), k = 16 "permutations" via exact
    * universal hashes (a_j·h + b_j) mod (2^31 − 1) — all BIGINT-exact —
    * banded 4×4: candidates share all 4 signature slots of ≥1 band, then
    * exact-Jaccard verified over the distinct shingle STRINGS. Every step
    * is a deterministic integer function of the text, so the full pair
    * set hash-matches a SQL oracle. Docs with empty shingle sets are
    * excluded.
    *
    * Scale shape: one md5 per (doc, shingle) in a codegen projection (no
    * HOF folds), the 16 mins and the shingle set in ONE cached aggregate
    * ([[portableState]]; a warm call reads it), banding joins 4 rows/doc
    * of 5 ints, and only candidate pairs meet their sets in the verify.
    */
  def minHashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    portablePairs(df, idCol, textCol, threshold, hashed = false)

  // The portable hashing/banding constants live in EXACTLY ONE place
  // each — every Spark consumer (q134's string path, q135's hash-set
  // path, the incremental index) and both generated oracles replay the
  // same numbers, so drift in one copy can't silently break the pinned
  // Spark/DuckDB exactness.

  /** md5 hi-32 of a token: the engine-portable base hash (< 2³², so all
    * downstream arithmetic is exact in f64 on both engines).
    */
  private def md5Hi32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** The 16 universal-hash minimum aggregates over `h` (mod 2³¹−1). */
  private def sigMinExprs: Seq[Column] = (0 until 16).map { j =>
    min((col("h") * (2L * j + 3L) + 104729L * (j + 1)) % 2147483647L).as(s"s$j")
  }

  /** (id, id1<id2) candidate pairs sharing all four slots of ≥1 band: a
    * self-join whose own exchange can split a skewed band key (exact
    * duplicates share every band; pairing inside band groups over one
    * window exchange ran such a group in one task, several times
    * slower). Both sides read the bands of a cached [[portableState]],
    * so no aggregate runs twice.
    */
  private def bandSelfCands(bands: DataFrame): DataFrame = {
    val keys = Seq("band", "v0", "v1", "v2", "v3")
    bands.select((keys.map(col) :+ col("id").as("id1")): _*)
      .join(bands.select((keys.map(col) :+ col("id").as("id2")): _*), keys)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
  }

  /** Per-doc portable state (id, hs, s0..s15) from ONE map-side-combined
    * aggregate: the 16 portable MinHash mins for banding and the verify
    * set `hs`, its one varying input — the distinct md5-hi32 shingle
    * hashes when `hashed` (the index state, layout near-v1: Jaccard over
    * distinct integer hashes is itself engine-portable, and 8-byte
    * hashes keep the index a fraction of the shingle text), else the
    * distinct shingle strings (q134's string Jaccard). Docs without
    * shingles explode to no row, so they are never candidates.
    */
  private[graft] def portableState(df: DataFrame, idCol: String, textCol: String,
      hashed: Boolean = true): DataFrame = {
    val inv = df.select(col(idCol).as("id"), explode(shingles(col(textCol), 3)).as("w"))
      .withColumn("h", md5Hi32(col("w")))
    inv.groupBy(col("id"))
      .agg(collect_set(col(if (hashed) "h" else "w")).as("hs"), sigMinExprs: _*)
  }

  /** 4×4 band rows (id, band, v0..v3) projected from [[portableState]] —
    * a narrow explode, no extra shuffle.
    */
  private def stateBands(state: DataFrame): DataFrame =
    state.select(col("id"), explode(array((0 until 4).map { t =>
        struct((lit(t).as("band") +:
          (0 until 4).map(r => col(s"s${t * 4 + r}").as(s"v$r"))): _*)
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.v0"), col("bb.v1"), col("bb.v2"), col("bb.v3"))

  /** The id, epoch and signature columns of a state read: all a band
    * derivation needs (the hs arrays are dead weight there).
    */
  private def sigColumns(state: DataFrame): DataFrame =
    state.select((col("id") +: col("epoch") +: (0 until 16).map(j => col(s"s$j"))): _*)

  /** [[stateBands]] over an epoch-partitioned state read, keeping the
    * epoch — the on-the-fly fallback for index epochs that predate (or
    * crash-missed) the at-rest band family.
    */
  private def stateBandsKeepEpoch(state: DataFrame): DataFrame =
    state.select(col("id"), col("epoch").cast("long").as("epoch"),
        explode(array((0 until 4).map { t =>
          struct((lit(t).as("band") +:
            (0 until 4).map(r => col(s"s${t * 4 + r}").as(s"v$r"))): _*)
        }: _*)).as("bb"))
      .select(col("id"), col("epoch"), col("bb.band"), col("bb.v0"),
        col("bb.v1"), col("bb.v2"), col("bb.v3"))

  /** Hash-set Jaccard-verified (id1, id2) pairs among banding candidates —
    * the global twin of what [[nearDedupIncrement]] computes batchwise
    * (LlmSpec pins the equality).
    */
  private[graft] def portableHashedPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    portablePairs(df, idCol, textCol, threshold, hashed = true)

  /** The portable MinHash-LSH pipeline: the cached [[portableState]],
    * its band self-join and the Jaccard verify over the state's set.
    */
  private def portablePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, hashed: Boolean): DataFrame = {
    val state = graft.ops.CacheRegistry.persist(portableState(df, idCol, textCol, hashed))
    val cand = bandSelfCands(stateBands(state)).distinct()
    // hint = false: both sides here are the WHOLE corpus — forcing a
    // broadcast would cap the global pairs at driver memory
    verifyPairs(cand, state, state, "hs", threshold, hintBroadcast = false)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact set Jaccard over candidate pairs (id1, id2) — the one verify
    * of every Jaccard-checked pair family. `earlier` (id1's side) and
    * `later` (id2's) are (id, `set`) frames of distinct-element arrays
    * and may come from different stores. `hintBroadcast` forces the
    * increment-sized sides (cand, later) to broadcast — pass false when
    * `later` is corpus-sized and the planner should choose.
    *
    * Returns (id1, id2, inter, n1, n2, jaccard) with jaccard ≥
    * `threshold`; every operand is an exact integer, so jaccard is the
    * one correctly rounded quotient on any engine.
    */
  private def verifyPairs(cand: DataFrame, earlier: DataFrame, later: DataFrame, set: String,
      threshold: Double, hintBroadcast: Boolean): DataFrame = {
    val candSide = if (hintBroadcast) broadcast(cand) else cand
    val laterSide = later.select(col("id").as("id2"), col(set).as("set2"))
    candSide
      .join(earlier.select(col("id").as("id1"), col(set).as("set1")), "id1")
      .join(if (hintBroadcast) broadcast(laterSide) else laterSide, "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("set1"), col("set2"))).cast("long").as("inter"),
        size(col("set1")).cast("long").as("n1"), size(col("set2")).cast("long").as("n2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup dedup against a PERSISTENT signature index —
    * the daily-ingest shape of a training pipeline: a new crawl batch is
    * deduplicated against everything EVER seen without re-reading or
    * re-shuffling the historical corpus.
    *
    * Index layout (`indexDir/state`, append-only parquet): ONE row per
    * document ever ingested — (id, hs, s0..s15), the distinct md5-hi32
    * shingle hash set plus the 16 portable MinHash mins, both from a
    * single map-side-combined aggregate. Per increment:
    *
    *  1. the batch's band rows BROADCAST against a scan of the index —
    *     history is only ever scanned (narrow), never shuffled, no matter
    *     how large it grows. Increment ≪ index is an ENFORCED contract:
    *     the hints broadcast unconditionally, so an increment past the
    *     broadcast cap fails loudly (split the batch) rather than
    *     silently shuffling the full index; the band join reads only
    *     the sig columns (parquet prunes the hash sets);
    *  2. within-batch candidates come from the batch's own band self-join;
    *  3. candidates are exact-Jaccard verified over the stored DISTINCT
    *     HASH sets (8-byte values; no historical text is retained or
    *     re-read) — hash-set Jaccard is engine-portable because both
    *     engines see identical md5 collisions;
    *  4. a batch doc is dropped iff a verified neighbor PRECEDES it
    *     (any indexed doc, or a same-batch doc with smaller id) —
    *     first-occurrence-wins, the near-dup generalization of
    *     keep-min-id exact dedup;
    *  5. ALL batch docs' state rows are appended (kept and dropped
    *     alike), so the final keep set equals the batch-free global rule
    *     "kept iff no preceding verified neighbor" — a pure function of
    *     the corpus that q135's DuckDB oracle replays cell-exactly
    *     ([[portableHashedPairs]] is the global twin).
    *
    * Increments are EPOCH-tagged (monotone `epoch` per call, the
    * partition column of the at-rest state): reads filter
    * `epoch < thisEpoch`, so a call's own append can never leak into
    * its lazily-evaluated result plan, and re-running a crashed epoch
    * is idempotent — the Delta/Iceberg snapshot-isolation idea reduced
    * to one partition-pruned column.
    *
    * Returns (id, kept); empty-shingle docs are always kept.
    *
    * Precondition (same style as TableDiff/asOfBroadcast): ids are
    * unique across the whole ingested corpus — a re-used id would
    * shadow the earlier doc's signatures and duplicate result rows.
    *
    * Incremental near-dup dedup of `batch` against the persistent index
    * at `indexDir` (and within the batch), appending the batch's own
    * signatures for future increments. Returns (id, kept).
    *
    * Per-increment IO contract (the property that holds at unbounded
    * history): the history probe pushes the BATCH's band-bucket set
    * into the at-rest `bands` family scan — epoch-partitioned files,
    * range-clustered and sorted on a hash of the band signature, so
    * row groups outside the batch's band set skip on footer stats —
    * and the hash-set verify reads only the epochs that actually
    * produced band candidates. A small trigger batch against months of
    * history reads O(batch)-proportional index bytes, not O(history).
    */
  def nearDedupIncrement(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, threshold: Double, epoch: Long): DataFrame =
    graft.GraftConf.withJobDescription(batch.sparkSession,
        s"Dedup.nearDedupIncrement $indexDir epoch=$epoch") {
      StateFamily.withLease(batch.sparkSession, indexDir, s"increment epoch=$epoch") {
        nearDedupIncrementLocked(batch, idCol, textCol, indexDir, threshold, epoch)
      }
    }

  /** Age past which [[materializeScratch]] reclaims an orphaned scratch
    * attempt: 7 days. The window must comfortably exceed both (a) how
    * long ANY caller lazily holds a scratch reader — multi-epoch training
    * jobs routinely run for hours between materializing an increment and
    * consuming it — and (b) plausible clock skew between writers on a
    * shared store, since the comparison is this JVM's clock vs the
    * store's mtimes. A crashed-attempt copy is ~the dropped-id set, cheap
    * to retain a week.
    */
  private val ScratchTtlMs = 7L * 24 * 3600 * 1000

  /** Durably materialize a batch-derived lazy frame under the index's
    * scratch area and return a reader over the written files. This is the
    * compaction-isolation mechanism for the increment results: the
    * returned plan reads ONLY these scratch files (plus the batch), never
    * the live `state`/`exact_state` partitions a later compaction
    * rewrites — so a caller's still-lazy result cannot have partitions
    * yanked from under it. Storage-backed instead of driver-backed on
    * purpose: a `collect()` into a local relation has the same isolation
    * property but puts a batch-sized value in driver RAM — at a 100 TB
    * daily increment with a high dup rate that is hundreds of millions of
    * ids, the exact bottleneck class a distributed pipeline must avoid.
    *
    * Attempt-scoped writes keep at-least-once re-runs idempotent AND
    * race-free: a crashed (or re-run) epoch writes a fresh attempt subdir,
    * never touching files an earlier attempt's reader may still be on.
    * Scratch attempts are reclaimed only by a TTL-based orphan sweep
    * ([[ScratchTtlMs]]): compaction never touches them, and the window is
    * sized so an arbitrarily old result plan still mid-read on its
    * attempt is safe — only attempts older than the TTL (crashed or
    * superseded re-runs) are deleted, on a best-effort basis. Read-back
    * pins the writer's schema explicitly so an all-empty write (dup-free
    * batch) is still readable.
    */
  private[llm] def materializeScratch(indexDir: String, family: String,
      epoch: Long, lazyDf: DataFrame): DataFrame = {
    // unique attempt subdir per call: an at-least-once RE-RUN of the same
    // epoch writes a fresh attempt instead of overwriting files an earlier
    // caller's still-lazy plan may be mid-read (each returned reader pins
    // its own attempt; orphaned sibling attempts are reclaimed below once
    // they age past the TTL)
    val epochDir = indexDir.stripSuffix("/") + s"/scratch/$family/epoch=$epoch"
    val path = epochDir + s"/attempt_${java.util.UUID.randomUUID()}"
    lazyDf.write.mode("overwrite").parquet(path)
    // reclaim ORPHANED sibling attempts past a retention window: a re-run
    // of the same epoch otherwise accumulates scratch copies unboundedly
    // until the whole index dir is retired (see ScratchTtlMs for the
    // window). Deletion is best-effort (another writer racing the same
    // cleanup is harmless).
    try {
      val dir = new org.apache.hadoop.fs.Path(epochDir)
      val fs = graft.GraftConf.fileSystem(lazyDf.sparkSession, dir)
      val cutoff = System.currentTimeMillis() - ScratchTtlMs
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("attempt_") && name != new org.apache.hadoop.fs.Path(path).getName
            && st.getModificationTime < cutoff)
          fs.delete(st.getPath, true)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    lazyDf.sparkSession.read.schema(lazyDf.schema).parquet(path)
  }

  /** Incremental EXACT dedup against a persistent fingerprint index — the
    * exact-match complement of [[nearDedupIncrement]] for the continuous
    * ingest loop: [[exact]]'s keep-min-per-key rule extended across
    * batches with first-epoch-wins precedence. A batch document is
    * dropped when its fingerprint appeared in ANY earlier epoch, or on a
    * smaller id within its own batch. `fpCol` is the caller's content
    * address (md5 of normalized text, a head fingerprint, a rolling
    * hash — the [[exact]] contract that the key is a digest, never the
    * document). NULL fingerprints mean "no content" and are never
    * deduplicated (SQL join semantics).
    *
    * 100 TB shape: the index stores ONLY (fp, epoch) — ~16 bytes per
    * unique document, partitioned by epoch; per increment the history is
    * SCANNED with the batch's fingerprint set broadcast into it (nothing
    * index-sized shuffles), and only fingerprints NEW to the index are
    * appended, so the index holds one row per unique fingerprint ever
    * seen. Crash re-runs converge by the same epoch isolation as the
    * near-dup index: this epoch's own rows are invisible to its reads,
    * and a duplicate append inside one epoch is harmless (membership
    * semijoin). Same single-writer lease, same directory layout (a
    * sibling `exact_state` next to the near-dup `state`).
    *
    * Returns (id: Long, kept: Boolean) — the result reads only the batch
    * plus an epoch-scoped scratch parquet of dropped ids (see
    * [[materializeScratch]]), never the index files, so a later
    * compaction cannot invalidate a caller's lazy plan.
    */
  def exactDedupIncrement(batch: DataFrame, idCol: String, fpCol: Column,
      indexDir: String, epoch: Long): DataFrame =
    StateFamily.withLease(batch.sparkSession, indexDir, s"exact-increment epoch=$epoch") {
      // the raised In threshold must cover the ACTIONS below (pushdown
      // conversion happens at physical planning, not plan construction)
      withPushedInThreshold(batch.sparkSession) {
      val dropped = graft.ops.CacheRegistry.during(
          batch.select(col(idCol).cast("long").as("id"), fpCol.cast("string").as("fp"))) { fps =>
        val batchFps = fps.select(col("fp")).filter(col("fp").isNotNull).distinct()
        new StateFamily(batch.sparkSession, indexDir.stripSuffix("/") + "/exact_state",
            batchFps.schema, FpState)
          .probeAppend(batchFps, epoch) { seen =>
            val batchMin = fps.filter(col("fp").isNotNull)
              .groupBy(col("fp")).agg(min(col("id")).as("keep_id"))
            // materialized INSIDE the lease to epoch-scoped scratch parquet
            // (bounded by the batch, but storage-backed — nothing data-sized
            // crosses to the driver), and BEFORE the append — the result must
            // not re-read index files a compaction could later rewrite
            materializeScratch(indexDir, "exact_dropped", epoch, fps.join(batchMin, "fp")
              .join(seen.withColumn("__hist", lit(true)), Seq("fp"), "left")
              .filter(col("id") =!= col("keep_id") || col("__hist").isNotNull)
              .select(col("id")))
          }
      }
      batch.select(col(idCol).cast("long").as("id"))
        .join(broadcast(dropped.withColumn("__dropped", lit(true))), Seq("id"), "left")
        .select(col("id"), col("__dropped").isNull.as("kept"))
      }
    }

  /** Band-family row-group size — the probe's skip granularity (and its
    * per-hit read cost): a hit band key costs ~one 128 KiB group, so a
    * B-doc trigger's band IO caps at ~4B × 128 KiB regardless of
    * history volume; the per-group footer+bloom overhead (~10 KiB) is
    * the layout's fixed tax (~8% of the family).
    */
  private val BandBlockBytes = 128 * 1024

  /** Parquet bloom-filter FPP for the bk column. Must be ≪ 1/K for a
    * K-key probe (every false positive costs a group read): at K ≈ 1000
    * (the pushdown cap) and fpp 1e-4, ~90% of non-hit groups still
    * skip.
    */
  private val BandBloomFpp = "0.0001"

  /** Parquet bloom options for a hashed key column (the band key `bk`,
    * the exact/gram `fp`): the batch's pushed `key IN` mostly probes ABSENT keys
    * (novel documents are the common trigger), which min/max stats over
    * scattered hashes can never exclude but a bloom always can — a
    * fully-novel trigger then reads no data groups at all. fpp 1e-4
    * keeps the spurious-group rate ≈ K×1e-4 under the 1000-value
    * pushdown cap; ndv sized to rows-per-group.
    */
  private def keyBloomOptions(colName: String, ndv: Int): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$colName" -> "true",
    s"parquet.bloom.filter.expected.ndv#$colName" -> ndv.toString,
    s"parquet.bloom.filter.fpp#$colName" -> BandBloomFpp,
    // dictionary encoding OFF for the key column: unique hashes gain
    // nothing from a dictionary, and parquet's dictionary FILTER runs
    // before the bloom and reads each group's whole dict page — for a
    // unique-valued column that is the column itself (measured: the
    // "pruned" novel probe read ~1 MB/group of dictionary pages)
    s"parquet.enable.dictionary#$colName" -> "false")

  /** State-family row-group size — the hs fetch's REAL skip granularity
    * (Spark's readers prune row groups, not pages — measured): a hit
    * candidate costs ~one 4 MiB group of the id-sorted files, while the
    * default 128 MiB would hand every probe a whole file. Page size
    * stays small so the layout is ready if page skipping ever engages.
    */
  private val StateBlockBytes = 4 * 1024 * 1024
  private val StatePageBytes = 32 * 1024

  /** The near-dup signature state: one row per document, id-SORTED with
    * small pages — the hs fetch pushes `id IN` and rides the parquet
    * column index (unsorted files would give every page a full-range id
    * min/max and nothing would skip), and a compacted sentinel holding
    * the whole settled corpus group-skips the same way.
    */
  private val NearState = FamilyLayout("near-v1", Seq("id"), Map(
    "parquet.block.size" -> StateBlockBytes.toString,
    "parquet.page.size" -> StatePageBytes.toString))

  /** The fingerprint-membership state (exact `exact_state`, gram
    * `gram_state`): one row per key, fp-sorted with small groups and the
    * fp bloom, so the pushed `fp IN` skips groups — novel keys via the
    * bloom, present keys via the sort.
    */
  private[llm] val FpState = FamilyLayout("fp-v1", Seq("fp"), Map(
    "parquet.block.size" -> StateBlockBytes.toString,
    "parquet.page.size" -> StatePageBytes.toString) ++ keyBloomOptions("fp", 200000))

  /** The band routing family, layout `bk-v1`: one row per (doc, band)
    * carrying the full band signature plus `bk` = xxhash64(band, v0..v3)
    * — files sorted (and, past one file, range-clustered) by bk, SMALL
    * row groups (128 KiB) and a parquet-native BLOOM FILTER on bk. The
    * probe pushes `bk IN (batch's ≤4B key hashes)`; blooms skip row
    * groups containing none of them — the only stats that CAN skip here,
    * measured: scattered hash keys give every min/max unit a full-range
    * span, so range/page/dictionary stats never prune (a bucket-range
    * layout was built, measured at parity or worse than the plain sig
    * scan, and retired — see PLANS.md). Per-increment band IO ≈ hitGroups
    * × 128 KiB + per-group footer/bloom overhead — flat in history
    * volume, linear only in batch size, and the granularity SURVIVES
    * compaction's rebuild (the sentinel epoch is just more groups).
    */
  private[graft] val BandsLayout = FamilyLayout("bk-v1", Seq("bk"),
    // bloom ndv = expected distinct keys per row GROUP (~3.2k band rows
    // at 128 KiB)
    Map("parquet.block.size" -> BandBlockBytes.toString) ++ keyBloomOptions("bk", 4000),
    clusterAppends = true)

  /** Cap on the value-set size the probe pushes as a parquet In filter.
    * Spark expands a pushed In into a chained OR of EQs (the form that
    * parquet evaluates against stats AND bloom filters) — thousands of
    * values build an equally-deep parquet filter tree whose recursive
    * visitor overflows the task stack (measured at 4096). Past the cap
    * the probe skips the pushed filter (for band keys that also means
    * skipping the band family entirely — a batch that large amortizes
    * the plain sig scan).
    */
  private val MaxPushedInValues = 1000

  /** Run `body` with the parquet In-pushdown threshold raised to
    * [[MaxPushedInValues]] (Spark's default 10 converts bigger Ins to a
    * useless min/max RANGE at the parquet layer), restoring the
    * caller's setting after. Every index read of an increment happens
    * inside its body, so the raise never leaks into user queries.
    */
  private[llm] def withPushedInThreshold[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, MaxPushedInValues.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The batch's key set as pushable literal values: Some(values) when
    * within [[MaxPushedInValues]] (one bounded collect), None when the
    * batch saturates the cap and the caller should scan instead.
    */
  private[llm] def pushableKeys(keys: DataFrame): Option[Seq[Any]] = {
    val vals = keys.limit(MaxPushedInValues + 1).collect().map(_.get(0)).toSeq
    if (vals.size > MaxPushedInValues) None else Some(vals)
  }

  /** Histories at or below this many epochs take the plain column-pruned
    * scan instead of the probe (the probe's two extra driver actions
    * cost more than a few-epoch scan saves; measured crossover between
    * 4 and 10 epochs on this box — at 10+ the probe's per-trigger cost
    * is flat in history while the plain scan grows). Band builds are
    * DEFERRED while the index stays shallow (no reader probes there);
    * the probe engages seamlessly once history deepens, with the
    * derive-from-state fallback covering the deferred epochs until a
    * compaction backfills them.
    */
  private[llm] val ProbeMinEpochs = 4

  /** Whether an index whose HISTORY is `histEpochs` (the epoch-partition
    * directory names) is read through the pruned band probe. Two
    * triggers: depth (more epochs than [[ProbeMinEpochs]]), or a FOLDED
    * sentinel epoch (< 0, left by compaction) — a folded index can hold
    * the whole corpus in 1-2 directories, so epoch COUNT stops proxying
    * volume there and the probe must always engage (the plain scan would
    * re-read O(history) exactly when the folded epoch is largest).
    * Also the band-WRITE gate: an increment writes its band epoch iff
    * the index including it probes, i.e. `probeGate(hist + thisEpoch)`.
    */
  private[graft] def probeGate(histEpochs: Set[Long]): Boolean =
    histEpochs.size > ProbeMinEpochs || histEpochs.exists(_ < 0)

  /** Deterministic 64-bit key of one band row's full signature — pure
    * ROUTING (the probe's bloom/pushdown key), NOT part of candidate
    * semantics (the candidate join still matches the signature columns
    * themselves), so the oracles are untouched.
    */
  private def bandKey: Column =
    xxhash64(col("band"), col("v0"), col("v1"), col("v2"), col("v3"))

  /** The pruned at-rest band probe (test-visible for plan assertions):
    * epoch partition pruning plus the pushed `bk IN (batch's band-key
    * hashes)` filter the bk-v1 layout exists for — parquet evaluates
    * each pushed EQ against the per-row-group BLOOM FILTER on bk, so
    * groups holding none of the batch's keys are skipped without any
    * reliance on min/max ordering (scattered hash keys give every
    * min/max unit a full-range span — measured unprunable).
    */
  private[graft] def probeBands(bands: StateFamily, epochs: Seq[Long],
      bandKeys: Seq[Long]): DataFrame =
    bands.read.filter(col("epoch").isin(epochs: _*) && col("bk").isin(bandKeys: _*))

  private def nearDedupIncrementLocked(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, threshold: Double, epoch: Long): DataFrame = {
    val spark = batch.sparkSession
    withPushedInThreshold(spark) {
    // the batch's state rows are read by this call's verify, counts and
    // appends; the returned frame reads only the batch and the scratch
    graft.ops.CacheRegistry.during(portableState(batch, idCol, textCol)) { state =>
    val bands = stateBands(state)
    val bandRows = bands.withColumn("bk", bandKey)
    val keys = Seq("band", "v0", "v1", "v2", "v3")
    val stateFam = new StateFamily(spark, indexDir.stripSuffix("/") + "/state", state.schema,
      NearState)
    val bandsFam = new StateFamily(spark, indexDir.stripSuffix("/") + "/bands", bandRows.schema,
      BandsLayout)

    // EPOCH isolation (the transaction-log idea reduced to a partition
    // column): the index is read through `epoch < thisEpoch`, a
    // partition-pruned filter — so this call's own append (and any
    // leftover rows from a crashed attempt at the SAME epoch) are
    // logically invisible to this increment, making re-runs after a
    // failed downstream idempotent. Duplicate rows a crashed attempt
    // leaves behind are also semantically harmless (candidates are
    // distinct'd, hash-set verify is idempotent); deleting the epoch
    // directory reclaims them. Single writer per epoch by contract.
    // "has an index" must mean "has DATA": an increment whose docs all
    // had empty shingle sets appends zero rows
    val hasIndex = stateFam.exists

    val candNew = bandSelfCands(bands)
    // PROBE-PRUNED history side: per-increment IO tracks the BATCH, not
    // the index. The at-rest `bands` family is epoch-partitioned (same
    // file sizing as its base family — no small-files tax), each epoch's
    // files range-clustered and sorted on a bucket = hash of the band
    // signature; the probe pushes `bucket IN (batch's buckets)` into
    // the parquet scan, so row groups outside the batch's band set are
    // skipped on footer stats — where the pre-bucketed layout re-read
    // the FULL signature index every batch, an IO bill that grew with
    // history forever. The hash-set verify below is pruned harder
    // still: only epochs that actually produced band candidates are
    // read. Epochs present in `state` but absent from `bands` (an index
    // built before this layout; the crash window between the two family
    // writes; state compacted before bands) fall back to deriving band
    // rows from state on the fly — correctness never depends on the
    // routing family being present.
    // one listing, shared by the read-path gate and the band-write
    // deferral below
    val fsStateEpochs = stateFam.epochs.filter(_ < epoch)
    // the batch docs `cand` drops, verified against `histHs` (the
    // candidates' historical hash sets)
    def droppedFrom(cand: DataFrame, histHs: Option[DataFrame]): DataFrame = {
      // the earlier side (id1) may be historical; the later (id2) is
      // always a batch doc
      val earlier = histHs match {
        case None => state.select(col("id"), col("hs"))
        case Some(h) => state.select(col("id"), col("hs")).unionByName(h)
      }
      // materialized INSIDE the lease to epoch-scoped scratch parquet: the
      // returned frame then reads only the batch and these files, never the
      // index files — so a compaction after this call returns cannot yank
      // partitions out of a caller's still-lazy result plan (a cache
      // would not guarantee that: cache eviction recomputes from files;
      // a collect() would but puts the batch-sized set in driver RAM).
      materializeScratch(indexDir, "near_dropped", epoch,
        verifyPairs(cand, earlier, state, "hs", threshold, hintBroadcast = true)
          .select(col("id2").as("id")).distinct())
    }
    val dropped =
      if (!hasIndex) droppedFrom(candNew.distinct(), None) else {
      val fsBandEpochs = bandsFam.epochs.filter(_ < epoch)
      if (!probeGate(fsStateEpochs)) {
        // SHALLOW history: the probe's extra driver round trips (bucket
        // set, candidate-epoch set — each a job with a ~0.1-0.2 s floor)
        // cost more than they save when there are only a few epochs to
        // scan (measured crossover ~4-10 epochs; at 10+ the probe wins
        // and its per-trigger cost stays flat while this path grows
        // with history). Take the plain column-pruned scan: sig columns
        // for the band join, (id, hs) for the verify.
        val i = stateFam.settled(epoch)
        val crossCand = stateBands(i)
          .select((keys.map(col) :+ col("id").as("id1")): _*)
          .join(broadcast(bands.select((keys.map(col) :+ col("id").as("id2")): _*)), keys)
          .select(col("id1"), col("id2"))
        droppedFrom(candNew.unionByName(crossCand).distinct(),
          Some(i.select(col("id"), col("hs"))))
      } else {
      // the batch's band-key hash set: a bounded driver pass (≤ 4 keys
      // per batch doc). Band epochs are ROUTED (probed via the bk bloom
      // layout) only when the key set is within the pushdown cap — an
      // over-cap batch rides the sig-derive fallback for every epoch,
      // which measures CHEAPER than scanning any band layout unpruned.
      val bandKeys = bands.select(bandKey.as("bk")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val bandsUsable = bandKeys.size <= MaxPushedInValues
      val routedEpochs =
        if (bandsUsable) (fsStateEpochs intersect fsBandEpochs).toSeq else Seq.empty
      val legacyEpochs = (fsStateEpochs diff routedEpochs.toSet).toSeq
      val routed = if (routedEpochs.isEmpty) None else Some(
        probeBands(bandsFam, routedEpochs, bandKeys)
          .select((col("id") +: col("epoch") +: keys.map(col)): _*))
      val legacy = if (legacyEpochs.isEmpty) None else Some(
        stateBandsKeepEpoch(stateFam.read.filter(col("epoch").isin(legacyEpochs: _*))))
      val histBands = (routed.toSeq ++ legacy.toSeq).reduce(_ unionByName _)
      // cached for this call, RELEASED after the scratch materialization
      // (the rebuildBandsFromState pattern) — never registered: a
      // registered cache over state/bands index files can outlive the
      // next compaction's rewrite of those files, and CacheManager
      // substitutes the stale relation into a later matching plan
      // (FILE_NOT_EXIST on the deleted partitions)
      graft.ops.CacheRegistry.during(histBands
        .select((keys.map(col) :+ col("id").as("id1") :+ col("epoch")): _*)
        .join(broadcast(bands.select((keys.map(col) :+ col("id").as("id2")): _*)), keys)
        .select(col("id1"), col("id2"), col("epoch"))) { crossCand =>
        // hs fetch pruned on BOTH axes from one bounded collect over the
        // cached candidate frame: epoch partition pruning (only epochs
        // that produced candidates) AND a pushed `id IN (candidate ids)`
        // — state files are written id-sorted with small pages, so the
        // column-index skips every page holding no candidate. This is
        // what keeps the verify side O(candidates) against a FOLDED
        // sentinel epoch, where partition pruning alone would re-read the
        // whole settled corpus's hash sets. The id set is bounded by the
        // same increment ≪ index contract that lets candidates broadcast;
        // past the pushdown cap the filter still applies post-scan.
        val hits = crossCand.select(col("id1"), col("epoch")).distinct()
          .collect()
        val hitEpochs = hits.map(_.getLong(1)).distinct.toSeq
        val hitIds = hits.map(_.getLong(0)).distinct.toSeq
        val idFilter =
          if (hitIds.size <= MaxPushedInValues) col("id").isin(hitIds: _*)
          else lit(true) // saturated set: epoch pruning only (see cap doc)
        val hist = if (hitEpochs.isEmpty) None else Some(
          stateFam.read.filter(col("epoch").isin(hitEpochs: _*) && idFilter)
            .select(col("id"), col("hs")))
        droppedFrom(candNew.unionByName(crossCand.drop("epoch")).distinct(), hist)
      }
      }
    }

    // append THIS batch's state under its epoch partition (eager, before
    // the caller acts on the lazy result — safe under epoch isolation).
    // FILE SIZING: size the epoch's file count to its materialized row
    // count (the count is a cheap action on the cache the write was
    // about to populate anyway)
    val stateRows = state.count()
    val outFiles = graft.ops.Layout.sizedFileCount(stateRows)
    // DEFER band builds while the index stays shallow: the read gate
    // above never probes at ≤ ProbeMinEpochs dirs, so a band epoch
    // written there is maintenance paid for a reader that cannot exist —
    // one whole extra write job per increment (measured ~+0.2-0.7 s
    // across the q135/q136/q189 bench family). Epochs skipped here are
    // covered forever by the probe's legacy fallback (state epochs
    // absent from bands derive band rows on the fly) until the next
    // compaction's rebuildBandsFromState backfills every epoch — at most
    // ProbeMinEpochs early, batch-sized epochs ride the fallback.
    if (probeGate(fsStateEpochs + epoch)) {
      // band routing family FIRST, then state: a state epoch on disk
      // thereby implies its band files are complete (the probe's legacy
      // fallback covers the reverse crash window — band rows whose state
      // epoch never landed are dropped by the hs inner join).
      // bk-v1 layout: bk-sorted files, 128 KiB row groups, parquet bloom
      // on bk — the skip machinery probeBands documents (the family's
      // stamp lands before its first band file)
      bandsFam.append(bandRows, epoch, graft.ops.Layout.sizedFileCount(4L * stateRows))
      // BACKFILL the deferral debt at the gate transition: state epochs
      // the shallow phase skipped (≤ ProbeMinEpochs of them) get their
      // band epochs derived from state NOW, once — without this, every
      // deep increment re-reads those epochs' sig columns via the
      // fallback until a compaction happens to run. Per-epoch
      // stage-then-rename: a band directory must only become visible
      // COMPLETE (a partially-appended epoch would be routed and
      // silently miss its unwritten candidates; the normal write avoids
      // that window by writing bands before the state epoch exists).
      backfillBandEpochs(stateFam, bandsFam,
        (fsStateEpochs.filter(_ >= 0) -- bandsFam.epochs).toSeq.sorted.take(ProbeMinEpochs * 2))
    }
    stateFam.append(state, epoch, outFiles) // id-sorted, see NearState

    batch.select(col(idCol).as("id"))
      .join(broadcast(dropped.withColumn("__dropped", lit(true))), Seq("id"), "left")
      .select(col("id"), col("__dropped").isNull.as("kept"))
    }
    }
  }

  /** STREAMING near-dup dedup: a document file-stream drained through
    * [[nearDedupIncrement]] one micro-batch at a time via foreachBatch —
    * the production ingest loop (new crawl files land, each batch dedups
    * against everything ever seen, survivors flow on, the at-rest index
    * grows). This is the NEAR-dup complement of
    * `dropDuplicatesWithinWatermark`: state lives in the at-rest index
    * (unbounded by design, scanned-not-shuffled per batch) instead of a
    * watermark-bounded state store, because a near-dup of a document
    * seen a month ago must still be dropped.
    *
    * Result: (id, kept, batch_id) per streamed doc, read back from
    * `outDir`. Micro-batch boundaries follow the source's file order
    * (one file per trigger here), so the keep set equals the same-split
    * sequence of batch [[nearDedupIncrement]] calls — LlmSpec pins that
    * equivalence.
    *
    * Restart contract: with `checkpointDir` set, a restarted stream
    * resumes from the last committed offset. foreachBatch is
    * AT-LEAST-ONCE (a crash between the batch body and the offset
    * commit re-runs that batch), so the result write is made idempotent
    * the standard way: partitioned by batch_id with dynamic partition
    * overwrite — a re-run replaces its own partition instead of
    * appending a duplicate copy. A fully uncheckpointed re-run
    * reprocesses from scratch with identical decisions (epoch isolation)
    * — PROVIDED the index has not been compacted since the original
    * run: [[nearDedupIndexCompact]] folds settled batches into the
    * sentinel partition, which a from-scratch replay at low epochs
    * would see as foreign history and self-drop against. Replay into a
    * fresh index, or resume from the checkpoint, after compacting.
    */
  def nearDedupStreaming(spark: org.apache.spark.sql.SparkSession, stagedDir: String,
      schema: org.apache.spark.sql.types.StructType, idCol: String, textCol: String,
      indexDir: String, outDir: String, threshold: Double,
      checkpointDir: Option[String] = None): DataFrame = {
    EpochStream.run(spark, stagedDir, schema, checkpointDir, outDir,
        keepFlagsSchema(schema(idCol).dataType)) {
      (batch, batchId) => EpochStream.writeSnapshot(
        nearDedupIncrement(batch, idCol, textCol, indexDir, threshold, epoch = batchId),
        outDir, batchId)
    }
  }

  /** STREAMING exact dedup — [[exactDedupIncrement]] drained one
    * micro-batch at a time, the exact complement of [[nearDedupStreaming]]
    * with the identical restart/idempotence contract (dynamic-overwrite
    * result partitions; epoch isolation makes at-least-once re-runs
    * converge; compacted history must not be replayed from scratch).
    * Distinct from `dropDuplicatesWithinWatermark` (q73): state lives in
    * the at-rest fingerprint index, unbounded by design — an exact copy
    * of a document seen a month ago must still be dropped.
    */
  def exactDedupStreaming(spark: org.apache.spark.sql.SparkSession, stagedDir: String,
      schema: org.apache.spark.sql.types.StructType, idCol: String, fpCol: Column,
      indexDir: String, outDir: String,
      checkpointDir: Option[String] = None): DataFrame = {
    EpochStream.run(spark, stagedDir, schema, checkpointDir, outDir,
        keepFlagsSchema(LongType)) {
      (batch, batchId) => EpochStream.writeSnapshot(
        exactDedupIncrement(batch, idCol, fpCol, indexDir, epoch = batchId), outDir, batchId)
    }
  }

  /** The streaming dedup snapshot schema: (id, kept) per streamed doc. */
  private def keepFlagsSchema(idType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(StructField("id", idType),
      StructField("kept", org.apache.spark.sql.types.BooleanType)))

  /** Compact the near-dedup signature index (the Delta-OPTIMIZE verb of
    * this table's lifecycle): rewrite every SETTLED epoch — everything
    * strictly below the current maximum — into one sentinel partition
    * (negative, visible to every future increment since reads filter
    * `epoch < current` and increments use epochs ≥ 0), dropping
    * duplicate rows left by crashed re-runs. The NEWEST epoch is left
    * untouched on purpose: under at-least-once streaming it may still
    * re-run, and folding it into settled history would make that re-run
    * see its own rows and drop every doc as a self-duplicate.
    * SEMANTICS-PRESERVING because settled index-internal epoch order no
    * longer matters: the keep rule only distinguishes "indexed before
    * this increment" from "in this increment".
    *
    * Crash safety WITHOUT a lose-everything window: the new sentinel
    * generation (one lower than any existing epoch) is staged durably,
    * renamed INTO the live directory first, and only then are the now-
    * redundant settled partitions deleted. At every intermediate point
    * the index content is a superset with duplicate rows — which the
    * increment path already tolerates and the next compaction cleans.
    * Single writer, ENFORCED: the index lease makes a compaction racing
    * an increment fail loudly instead of reading partitions mid-delete.
    */
  def nearDedupIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = StateFamily.withLease(spark, indexDir, "compact") {
    // each family folds settled epochs under its own duplicate key (its
    // sort key: near-dup rows by doc id, exact rows by the fingerprint)
    StateFamily.stamped(spark, indexDir.stripSuffix("/") + "/state", NearState)
      .foreach(_.compact(_.dropDuplicates("id")))
    // the band routing family is REBUILT from the compacted state, not
    // folded in place: folding would give the bands sentinel the same
    // DIRECTORY NAME as the state sentinel without the same CONTENT
    // whenever any state epoch predates the band family (legacy index,
    // crash window) — and the probe's fallback is keyed on directory-
    // name presence, so name parity without content parity silently
    // loses cross-epoch candidates. Deriving from state makes content
    // parity true by construction, for every epoch.
    rebuildBandsFromState(spark, indexDir)
    StateFamily.stamped(spark, indexDir.stripSuffix("/") + "/exact_state", FpState)
      .foreach(_.compact(_.dropDuplicates("fp")))
  }

  /** Derive and land band epochs for EXISTING state epochs (the
    * deferral backfill): rows derive from state exactly like the
    * rebuild, staged per epoch and RENAMED in — an epoch directory only
    * becomes visible once complete, so a crash leaves fully-landed
    * epochs routed, unlanded ones on the fallback, never a
    * partially-visible epoch. Single writer under the index lease;
    * rename targets cannot exist (the epochs were selected as missing).
    */
  private def backfillBandEpochs(state: StateFamily, bands: StateFamily,
      epochs: Seq[Long]): Unit = if (epochs.nonEmpty) {
    // sig columns only — persisting full-width state would cache the
    // fat hs arrays a band derivation never reads
    graft.ops.CacheRegistry.during(sigColumns(state.read.filter(col("epoch").isin(epochs: _*)))) {
      st => bands.land(stateBandsKeepEpoch(st).withColumn("bk", bandKey),
        graft.ops.Layout.sizedFileCount(st.count() * 4L), epochs)
    }
  }

  /** Rebuild the band routing family wholesale from the (just-compacted)
    * state family: derive band rows + bk for EVERY state epoch, stage
    * them in the bk-v1 layout, and swap the whole bands directory —
    * this is ALSO the backfill path for deferred-epoch directories.
    * Crash windows all degrade to correct-but-slower: bands missing → the
    * increment derives bands from state on the fly; a leftover stage/old
    * dir is swept on the next rebuild.
    */
  private[llm] def rebuildBandsFromState(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val bandsPath = indexDir.stripSuffix("/") + "/bands"
    StateFamily.stamped(spark, indexDir.stripSuffix("/") + "/state", NearState) match {
      case None => StateFamily.drop(spark, bandsPath)
      case Some(state) =>
        // the cache is strictly intra-call (count + write), never
        // registered: a registered cache over state files outlives the
        // NEXT compaction's rewrite of those files, and CacheManager
        // substitutes the stale relation into any later matching plan
        // (FILE_NOT_EXIST on the deleted sentinel)
        graft.ops.CacheRegistry.during(
            stateBandsKeepEpoch(sigColumns(state.read)).withColumn("bk", bandKey)) { rows =>
          new StateFamily(spark, bandsPath, StructType(rows.schema.filterNot(_.name == "epoch")),
            BandsLayout).replace(rows, graft.ops.Layout.sizedFileCount(rows.count()))
        }
    }
  }

  /** Exact n-gram Jaccard pairs via inverted-index self-join on SHINGLES
    * (default 3-word): only pairs sharing a shingle are materialized.
    *
    * Discriminativeness is what makes the index sub-quadratic: unigrams
    * over a small vocabulary degenerate to all-pairs (measured: 224M join
    * rows on the 5k-doc fixture), while n-word shingles collide only for
    * genuinely similar documents. `maxDocFreq` additionally drops shingles
    * present in more than that fraction of documents (boilerplate guard —
    * at 100 TB a header shingle shared by 10% of the corpus would otherwise
    * quadratically dominate the join).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDocFreq: Double = 1.0): DataFrame = {
    // the shingle kernel feeds three consumers (doc-freq guard, the
    // inverted index, and sizes) — materialize it once
    val tok = graft.ops.CacheRegistry.persist(
      df.select(col(idCol).as("id"), shingles(col(textCol), n).as("toks")))
    ngramJaccardPairsFromToks(tok, threshold, maxDocFreq)
  }

  /** [[ngramJaccardPairs]] over a PRE-TOKENIZED `(id, toks)` table whose
    * lifetime the CALLER owns (persist it) — consumers that need the same
    * shingle table more than once (q31's pruned index and q32's lossless
    * truth side run the identical tokenize+shingle chain) pay the kernel
    * pass a single time. The doc total for the doc-frequency guard comes
    * from `tok` itself (one row per document, usually already cached).
    */
  def ngramJaccardPairsFromToks(tok: DataFrame, threshold: Double,
      maxDocFreq: Double = 1.0): DataFrame = {
    val inv0 = tok.select(col("id"), explode(col("toks")).as("w"))
    val inv = {
      // DICTIONARY-ENCODE the shingles on BOTH paths, so the expensive
      // self-join below shuffles and compares 8-byte ints instead of
      // n-gram strings (measured worthwhile even without the doc-freq
      // guard: the distinct+rank pass costs one narrow shuffle, the
      // self-join's fan-out pays it back). Ids come from the
      // deterministic RowIndex primitive (rank in shingle order): a
      // recompute after cache eviction reproduces the SAME encoding, so
      // the self-join's two sides can never diverge
      // (monotonically_increasing_id would be partition-dependent here)
      val freq = inv0.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val keep =
        if (maxDocFreq >= 1.0) freq.select(col("w"))
        else freq.filter(col("df") <= maxDocFreq * tok.count()).select(col("w"))
      val dict = graft.ops.CacheRegistry.persist(
        graft.ops.RowIndex.withRowIndex(keep, "__wid", Seq(col("w"))))
      inv0.join(dict, "w").select(col("id"), col("__wid").as("w"))
    }
    val sizes = tok.select(col("id"), size(col("toks")).as("n"))
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2"), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
  }

  /** Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin): for Jaccard >=
    * t, two sets MUST share a token among each one's first
    * |s| - ceil(t*|s|) + 1 tokens in a global rarest-first order — so only
    * those prefixes are indexed. Lossless: same output as
    * `ngramJaccardPairs`, with candidate generation shrunk superlinearly
    * (frequent "boilerplate" shingles land outside prefixes, so they never
    * fan out). One extra aggregation computes global shingle frequencies.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val tok = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("toks"))
    val inv = tok.select(col("id"), explode(col("toks")).as("w"))
    val freq = inv.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // rank tokens per doc by global rarity; keep the prefix
    val ranked = inv.join(freq, "w")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("w"))))
    val withLen = ranked.join(tok.select(col("id"), size(col("toks")).as("len")), "id")
      .filter(col("rk") <= col("len") - ceil(lit(threshold) * col("len")) + 1)
      .select(col("id"), col("w"))
    val cand = withLen.as("a").join(withLen.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    verifyPairs(cand, tok, tok, "toks", threshold, hintBroadcast = false)
  }

  /** Fuzzy string pairs: every (id1 < id2) pair with edit distance ≤
    * `maxDist` — the record-linkage / typo-dedup sibling of the token
    * similarity families above.
    *
    * Candidate blocking is the LOSSLESS length band (|len(a) − len(b)| ≤
    * maxDist, a hard property of edit distance): side A explodes to its
    * 2·maxDist+1 candidate lengths and equi-joins side B's length — no
    * nested-loop, no missed pair, so a brute-force oracle must agree
    * exactly. Verification uses Spark's thresholded `levenshtein(l, r, k)`
    * (returns −1 past k ⇒ early-exit instead of full DP).
    *
    * Scale note: length alone is a weak blocking key on natural text (most
    * strings share few lengths → a skewed join); at corpus scale compose
    * it with a domain blocking key (same first token, same source) the way
    * minHashLshPairs composes bands — the band join here stays the exact
    * verification layer.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val a = df.select(col(idCol).as("id1"), col(strCol).as("s1"),
      length(col(strCol)).as("l1"))
    val b = df.select(col(idCol).as("id2"), col(strCol).as("s2"),
      length(col(strCol)).as("l2"))
    a.select(col("id1"), col("s1"),
        explode(sequence(col("l1") - maxDist, col("l1") + maxDist)).as("lb"))
      .join(b, col("lb") === col("l2") && col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id1"), col("id2"), col("dist"))
  }

  /** Fuzzy pairs via FastSS deletion neighborhoods (Bocek et al. 2007) —
    * the strong blocking key for small edit radii where the length band
    * degenerates (uniform-length corpora: ids, SKUs, normalized names).
    *
    * Property: ed(a,b) = d ⟺ some string is reachable from a by i
    * deletions and from b by j deletions with i + j = d. So for
    * `maxDist` = k, candidates = pairs whose ≤k-deletion neighborhoods
    * intersect — LOSSLESS (every true pair shares a variant), and a pair
    * sharing one has ed ≤ 2k, so the thresholded `levenshtein` verify
    * discards the rest. Neighborhood size is O(len^k) per string
    * (vs the O(n²) same-length classes): the explode+equi-join replaces
    * the all-pairs comparison entirely.
    *
    * Shuffle discipline: the candidate join carries (variant, id) pairs;
    * id-pair distinct happens BEFORE names are re-attached (broadcast-
    * sized dimension both times), so candidate text never shuffles.
    */
  def fuzzyPairsFastSS(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"FastSS neighborhood supported for maxDist 1 or 2, got $maxDist")
    // self + all single deletions; guarded so "" maps to {""} (sequence
    // would otherwise descend 1,0 and emit garbage variants)
    def nbhd1(s: Column): Column =
      when(length(s) === 0, array(s))
        .otherwise(array_union(array(s),
          transform(sequence(lit(1), length(s)),
            i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))))
    def neighborhood(s: Column): Column =
      if (maxDist == 1) nbhd1(s)
      else array_distinct(flatten(transform(nbhd1(s), t => nbhd1(t))))
    val keyed = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), explode(neighborhood(col("s"))).as("vkey"))
    val cand = keyed.select(col("vkey"), col("id").as("id1"))
      .join(keyed.select(col("vkey"), col("id").as("id2")), Seq("vkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val names = df.select(col(idCol).as("id"), col(strCol).as("s"))
    cand
      .join(names.select(col("id").as("id1"), col("s").as("s1")), "id1")
      .join(names.select(col("id").as("id2"), col("s").as("s2")), "id2")
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id1"), col("id2"), col("dist"))
  }

  /** Connected components over a near-dup pair list via min-label
    * propagation with pointer jumping: each round every node adopts the
    * smallest label one hop away, then compresses through its label's own
    * label (path halving). This is the scalable union-find substitute
    * (no driver-side state).
    *
    * The loop body is deliberately RDD-based — the one place in this
    * repo where dropping below DataFrames is the right call (§7.3(d)):
    * an iterative fixed point re-plans under Catalyst EVERY round
    * (analysis + AQE ≈ 0.4 s/round of pure overhead, and exchange reuse
    * does not survive across rounds), while an RDD loop with ONE shared
    * HashPartitioner makes the edge⋈label join narrow every round —
    * edges are partitioned once and never move again; only the (small)
    * label table shuffles. This is exactly GraphX/Pregel's execution
    * shape, without the dependency.
    *
    * Input: (id1, id2) pairs. Output: (id, component) where component is
    * the smallest id in the cluster. Singleton ids absent from `pairs`
    * are their own component and are not emitted.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      smallGraphLimit: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val confParts = math.max(4,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt / 2)
    // key by the neighbor whose label flows IN: (src, dst) both ways;
    // partitioned once — every round's join against labels is narrow
    val raw = pairs.select(col("id1").cast("long"), col("id2").cast("long"))
      .rdd.flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Seq((a, b), (b, a))
      }
    val pre = raw.distinct(confParts).persist(storage)
    val edgeCount = pre.count()
    // Cost-based small-graph fast path (same decision pattern as
    // RowIndex's dimension-size shortcut, same bounded-materialization
    // contract as the IVF training sample / ≤16 MiB bloom set): a
    // near-dup graph is usually SPARSE relative to its corpus — q113's
    // sf0.1 run is 1,319 edges — and the RDD loop pays ~rounds × stages
    // of job overhead regardless of size. Under the limit a driver
    // union-find answers in ONE job. Driver footprint is kept honest:
    // edges land as PRIMITIVE long arrays (16 B per symmetric edge —
    // 1 M edges ≈ 16 MB; boxed tuples would be 3-6×), the union-find is
    // a LongMap (unboxed keys), and the caller's limit is additionally
    // capped against driver heap (≤ maxMemory/64 edges keeps the whole
    // path well under a quarter of the heap even with map overhead).
    val effLimit = math.min(smallGraphLimit, Runtime.getRuntime.maxMemory() / 64L)
    if (edgeCount <= effLimit) {
      val packed = pre.mapPartitions { it =>
        val as = Array.newBuilder[Long]; val bs = Array.newBuilder[Long]
        it.foreach { case (a, b) => as += a; bs += b }
        Iterator.single((as.result(), bs.result()))
      }.collect()
      pre.unpersist(blocking = false)
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      packed.foreach { case (as, bs) =>
        var j = 0
        while (j < as.length) {
          val a = as(j); val b = bs(j)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(ra) = rb
          j += 1
        }
      }
      val ks = parent.keysIterator.toArray
      val minOf = new scala.collection.mutable.LongMap[Long]()
      ks.foreach { k =>
        val r = find(k)
        if (k < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = k
      }
      val comps = new Array[Long](ks.length)
      var j = 0
      while (j < ks.length) { comps(j) = minOf(find(ks(j))); j += 1 }
      // Row objects are built on EXECUTORS over broadcast primitive
      // arrays — the driver never holds a boxed Row per node
      val ksB = spark.sparkContext.broadcast(ks)
      val compsB = spark.sparkContext.broadcast(comps)
      val rowRdd = spark.sparkContext.range(0L, ks.length.toLong, 1L, numSlices = 4)
        .map(j => org.apache.spark.sql.Row(ksB.value(j.toInt), compsB.value(j.toInt)))
      return spark.createDataFrame(rowRdd,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // every round costs partitions × stages of fixed task overhead, and
    // round count is data-driven — size the loop's parallelism to the
    // materialized edge count (≈500k edges per partition), exactly the
    // coalescing AQE would apply if it could see across rounds
    val numParts = math.max(4, math.min(confParts,
      (edgeCount / 500000L).toInt + 1))
    val part = new org.apache.spark.HashPartitioner(numParts)
    val edges = pre.partitionBy(part).persist(storage)
    var labels = edges.keys.distinct(numParts)
      .map(id => (id, id)).partitionBy(part).persist(storage)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // neighbor-min: label(dst) flows to src (edges keyed by dst here:
      // (dst=key, src=value) — the symmetric set makes direction moot)
      val viaNbr = edges.join(labels).map { case (_, (src, ncomp)) => (src, ncomp) }
      val stepped = labels.union(viaNbr).reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // pointer jump (path halving): component := label(component)
      // (a second jump per round was measured slower — the extra shuffle
      // outweighs the rounds it saves)
      val jumped = stepped.map { case (id, c) => (c, id) }.join(stepped)
        .map { case (c, (id, pc)) => (id, math.min(c, pc)) }
        .partitionBy(part).persist(storage)
      // one action materializes the round AND checks convergence: the
      // old/new join is narrow (both sides share `part`)
      converged = jumped.join(labels)
        .filter { case (_, (n, o)) => n != o }.take(1).isEmpty
      labels.unpersist(blocking = false)
      labels = jumped
      i += 1
    }
    edges.unpersist(blocking = false)
    pre.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a near-dup cluster has extreme diameter; raise maxIter")
    }
    // the returned DataFrame is backed by the final cached label RDD —
    // callers can't unpersist it, so bound its lifetime in the registry
    graft.ops.CacheRegistry.persist(labels)
    val out = spark.createDataFrame(
      labels.map { case (id, c) => org.apache.spark.sql.Row(id, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false))))
    out
  }

  /** End-to-end corpus dedup: exact (fingerprint) + near-dup (MinHash-LSH
    * verified by Jaccard) collapsed into clusters; keep the smallest id
    * per cluster. Returns the keep-list (ids that survive).
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.8): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val nearPairs = minHashLshPairs(df, idCol, textCol, threshold = jaccardThreshold)
      .select(col("id1"), col("id2"))
    val comp = connectedComponents(exactStarEdges(df, idCol, textCol).union(nearPairs))
    val drop = comp.filter(col("id") =!= col("component")).select(col("id"))
    ids.join(drop, Seq("id"), "left_anti")
  }

  /** Exact-duplicate star edges (min-id, id) per content fingerprint, on
    * a SLIM (fp, id) projection: a map-side-combined MIN per fingerprint
    * joined back on the 16-byte key. Per-group aggregation state is ONE
    * id and the rows in motion are (fp, id) pairs — no task ever buffers
    * a duplicate group, where a collect_set (or an unbounded-frame
    * window, which spills the partition's full rows) would hold a
    * 10M-copy boilerplate group on one task. Null-text docs emit no
    * edges — SQL join semantics (NULL = NULL never matches), the exact
    * shape the q137 oracle's `a.f = b.f` replay has.
    */
  private def exactStarEdges(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val slim = df.filter(col(textCol).isNotNull)
      .select(TextAnalysis.md5Fingerprint(col(textCol)).as("__fp"),
        col(idCol).as("__id"))
    val fpMin = slim.groupBy(col("__fp")).agg(min(col("__id")).as("id1"))
    slim.join(fpMin, "__fp")
      .filter(col("id1") < col("__id"))
      .select(col("id1"), col("__id").as("id2"))
  }

  /** Engine-portable cluster labels for EVERY document: exact-fingerprint
    * edges ∪ [[portableHashedPairs]] near-dup edges, closed into
    * connected components; singletons label themselves. Unlike
    * [[dedupCorpus]] (keep-list only, kernel hashes) this pins the full
    * cluster STRUCTURE, and every edge is a deterministic integer
    * function of the text — so the transitive closure itself is
    * SQL-replayable and the component assignment can be checked
    * hash-exact against an independent engine (q137's recursive-CTE
    * oracle).
    *
    * Scale shape: both edge generators are bucketed (fingerprint
    * groupBy; band join) — no all-pairs stage — and [[connectedComponents]]
    * shuffles only (id, label) longs.
    */
  def dedupClustersPortable(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("id"))
    val exactPairs = exactStarEdges(df, idCol, textCol)
    val nearPairs = portableHashedPairs(df, idCol, textCol, jaccardThreshold)
      .select(col("id1"), col("id2"))
    val comp = connectedComponents(exactPairs.union(nearPairs))
    ids.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Keep-BEST-in-cluster duplicate resolution — the production
    * alternative to keep-first: when near-duplicates cluster, retain the
    * highest-QUALITY member (longest, best LM score, freshest crawl —
    * the caller's `scoreCol`), not the one with the smallest id. Every
    * document gets a verdict row `(id, component, score, kept)`:
    * singletons keep themselves, and within a cluster the winner is the
    * max score with the smallest id breaking ties — fully deterministic,
    * so the policy itself is oracle-checkable.
    *
    * Scale shape: `pairs` comes from any bucketed edge generator (LSH
    * bands, fingerprints, [[portableHashedPairs]]); components shuffle
    * only (id, label) longs; the argmax is a per-component window whose
    * partition count equals the cluster count — never a global sort.
    * Documents themselves join to their label by id and never move
    * otherwise.
    */
  def keepBestInCluster(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame =
    keepBestFromComponents(docs, idCol, scoreCol, connectedComponents(pairs))

  /** [[keepBestInCluster]] from an already-computed `(id, component)`
    * label table (ids absent from it are singletons) — the reusable half,
    * so a pipeline that already ran [[dedupClustersPortable]] or a custom
    * clustering applies the keep-best policy without re-closing the graph.
    */
  def keepBestFromComponents(docs: DataFrame, idCol: String, scoreCol: String,
      components: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("score"))
      .join(components.select(col("id"), col("component")), Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc_nulls_last, col("id").asc)
    labeled
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("id"), col("component"), col("score"), col("kept"))
  }
}