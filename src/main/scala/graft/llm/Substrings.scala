package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

/** Exact-substring duplicate detection at ARBITRARY token alignment — the
  * suffix-array-family dedup (Lee et al. 2022, "Deduplicating Training
  * Data Makes Language Models Better") re-expressed as a k-gram
  * fingerprint pipeline: a verbatim run of ≥ k tokens shared by two
  * documents is exactly a run of consecutive positions whose k-gram
  * fingerprints each occur in more than one document. This closes the gap
  * [[Chunking]]-grain dedup leaves open: a duplicate span straddling a
  * chunk boundary changes BOTH chunks' texts and is invisible to
  * chunk-fingerprint dedup, but every k-gram inside the span still
  * matches here (reference anchor: the §2.3 substring kernels
  * `src/kernels/string.rs:1388` count_match / `string.rs:1322` find,
  * lifted from within-array to cross-document scope).
  *
  * Shape at 100 TB: the gram table is (id, pos, fp) — the fused
  * [[graft.expressions.GramHashes]] kernel hashes in one byte pass so the
  * exploded rows carry 8-byte fingerprints, never gram strings. Three
  * narrow shuffles total: (1) fp → algebraic min/max doc aggregate
  * (map-side combined; `min ≠ max` IS "appears in ≥ 2 docs" without a
  * count-distinct expansion), (2) the left-semi probe of grams against
  * the duplicated-fp set on the same fp key, (3) positions → per-document
  * islands (Window partitioned BY DOCUMENT — bounded by doc length, never
  * single-task). Documents' text itself never shuffles.
  */
object Substrings {

  /** All-alignment k-gram fingerprints with position: one row per
    * (document, token position), `fp` = FNV-1a 64 of the k-token gram.
    */
  def gramFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(toCol(graft.expressions.GramHashes(
          toExpr(col(textCol).cast("string")), k))).as(Seq("pos", "fp")))

  /** Maximal cross-document duplicate spans ≥ `minSpan` tokens (default:
    * the gram width `k` — every detectable span). A token position is
    * DUPLICATED when its k-gram occurs in at least two distinct documents;
    * maximal runs of consecutive duplicated positions merge into one span
    * (gaps-and-islands on `pos − row_number`), covering [span_start,
    * span_end] = [first pos, last pos + k − 1] in token coordinates. Runs
    * merge regardless of WHICH other document each position matches — the
    * span is "verbatim text that exists elsewhere in the corpus", the
    * remove-or-keep unit of suffix-array dedup.
    *
    * Output: idCol, span_start, span_end, span_len (all LONG, token
    * coordinates into the [[TextAnalysis.wordTokens]] stream).
    */
  /** The OPERATIONAL half of suffix-array dedup (Lee et al. 2022 apply
    * step): rewrite each document with its cross-document duplicate text
    * REMOVED, one canonical copy surviving. Keep-first-owner rule, fully
    * deterministic and oracle-replayable: each duplicated k-gram's owner
    * is the SMALLEST doc_id containing it; a token is removed from doc d
    * iff it is covered by (within k tokens after) a duplicated gram whose
    * owner is not d. The owner doc keeps its copy; every other doc loses
    * exactly the covered tokens — partial spans resolve at TOKEN
    * granularity, so overlapping matches against different owners
    * compose correctly.
    *
    * Output: idCol, clean_text (kept tokens joined by one space — the
    * tokenized-normalized form, same convention as chunk_text),
    * n_kept, n_removed. Every input document appears, even if fully
    * deduplicated (clean_text = '').
    *
    * Scale shape: gram fingerprints + two narrow shuffles as
    * [[duplicateSpans]], plus a token-position anti-join per doc and one
    * per-doc sort-aggregate for the rebuild — text shuffles once, as
    * (pos, token) pairs.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1, s"gram width must be positive: $k")
    val grams = graft.ops.CacheRegistry.persist(gramFingerprints(df, idCol, textCol, k))
    // duplicated fp (>= 2 docs) with its canonical owner = min doc_id
    val owners = grams.groupBy(col("fp"))
      .agg(min(col("id")).as("owner"), max(col("id")).as("__mx"))
      .filter(col("owner") =!= col("__mx"))
      .select(col("fp"), col("owner"))
    // gram occurrences losing their text: dup fp, not the owner doc
    val losing = grams.join(owners, "fp").filter(col("id") =!= col("owner"))
    val covered = losing
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("t"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
        posexplode(TextAnalysis.wordTokens(col(textCol))).as(Seq("t", "tok")))
    // NOTE (round-15 measurement): folding `totals` into this aggregate
    // via a covered-flag left join (saving the second tokenization) was
    // tried and REVERTED for this batch form — q159 measured +9% twice at
    // sf0.1; the anti-join drops covered tokens before the aggregate and
    // the saved tokenize pass did not pay for the fatter aggregate here.
    // The INCREMENT keeps the fold (q189 −9%: there it also shares the
    // owners aggregate, and a third tokenize pass per ingest batch is the
    // bigger bill).
    val kept = toks.join(covered, Seq("id", "t"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("t"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    val totals = df.select(col(idCol).as("id"),
      size(coalesce(TextAnalysis.wordTokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("__n"))
    totals.join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** INCREMENTAL duplicate-span removal against a persistent k-gram
    * fingerprint index — [[removeDuplicateSpans]]'s first-owner rule
    * extended across ingest batches on the (fp, epoch) index contract
    * ([[Dedup.exactDedupIncrement]]'s layout, a sibling `gram_state`
    * directory): a k-gram owned by ANY earlier epoch stays cut forever —
    * the batch document covering it loses those tokens; within the
    * batch the rule is exactly the batch operator's (owner = smallest
    * doc id among ≥ 2 holders keeps its copy), so epoch 0 of the
    * increment IS [[removeDuplicateSpans]] (LlmSpec-pinned).
    *
    * 100 TB shape: the index stores only (fp, epoch) — 8-byte gram
    * fingerprints, one row per distinct gram ever seen; per increment
    * the history is SCANNED with the batch's distinct fp set broadcast
    * into it (nothing index-sized shuffles), only NEW fps append, and
    * the covered-position set is materialized to epoch-scoped scratch
    * inside the lease (storage-backed — the exactDedupIncrement
    * contract, so the lazy result never re-reads files a compaction may
    * rewrite, and nothing data-sized crosses to the driver). Same
    * single-writer lease, same crash/re-run convergence by epoch
    * isolation.
    *
    * Output: (id, clean_text, n_kept, n_removed) — every batch document
    * appears, even fully-deduplicated ones.
    */
  def removeDuplicateSpansIncrement(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, epoch: Long, k: Int = 8): DataFrame =
    StateFamily.withLease(batch.sparkSession, indexDir,
        s"gram-span-increment epoch=$epoch") {
      Dedup.withPushedInThreshold(batch.sparkSession) {
      require(k >= 1, s"gram width must be positive: $k")
      // the grams and their owner table are read only by this call's
      // probe and scratch materialization; the returned frame reads the
      // materialized covered positions
      val covered = graft.ops.CacheRegistry.during(
          gramFingerprints(batch, idCol, textCol, k)) { grams =>
        // ONE fp-keyed aggregate over the cached grams feeds BOTH the owner
        // table and the batch's distinct-fp set (pushdown probe, broadcast
        // semi, new-fp anti) — the separate .distinct() ran a second full
        // fp shuffle of the gram cache per increment. |distinct fps| rows.
        graft.ops.CacheRegistry.during(grams.groupBy(col("fp"))
            .agg(min(col("id")).as("owner"), max(col("id")).as("__mx"))) { owners =>
          val batchFps = owners.select(col("fp"))
          new StateFamily(batch.sparkSession, indexDir.stripSuffix("/") + "/gram_state",
              batchFps.schema, Dedup.FpState)
            .probeAppend(batchFps, epoch) { seen =>
              // an occurrence loses its text when its gram is history-owned,
              // or batch-duplicated with a smaller-id owner
              val losing = grams.join(
                  owners.select(col("fp"), col("owner"),
                    (col("owner") =!= col("__mx")).as("__batch_dup")), "fp")
                .join(seen.withColumn("__hist", lit(true)), Seq("fp"), "left")
                .filter(col("__hist").isNotNull ||
                  (col("__batch_dup") && col("id") =!= col("owner")))
              Dedup.materializeScratch(indexDir, "gram_covered", epoch, losing
                .select(col("id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("t"))
                .distinct())
            }
        }
      }
      val toks = batch.select(col(idCol).as("id"),
        posexplode(TextAnalysis.wordTokens(col(textCol))).as(Seq("t", "tok")))
      // one exploded-token pass for totals AND kept rows (the batch
      // operator's fold, same argument): the old anti-join + totals
      // projection paid a third full tokenization of the batch
      val keptAll = toks.join(covered.withColumn("__cov", lit(true)), Seq("id", "t"), "left")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("__n"),
          count(col("__cov")).as("__ncov"),
          array_join(transform(array_sort(collect_list(
            when(col("__cov").isNull, struct(col("t"), col("tok"))))),
            s => s.getField("tok")), " ").as("clean_text"))
      batch.select(col(idCol).as("id")).join(keptAll, Seq("id"), "left")
        .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
          (coalesce(col("__n"), lit(0L)) - coalesce(col("__ncov"), lit(0L))).as("n_kept"),
          coalesce(col("__ncov"), lit(0L)).as("n_removed"))
      }
    }

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minSpan: Int = 0): DataFrame = {
    require(k >= 1, s"gram width must be positive: $k")
    // one tokenize+hash pass feeds both the dup-fp aggregate and the
    // probe side (q105 persist pattern)
    val grams = graft.ops.CacheRegistry.persist(gramFingerprints(df, idCol, textCol, k))
    val dupFps = grams.groupBy(col("fp"))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("fp"))
    val dupPos = grams.join(dupFps, Seq("fp"), "left_semi")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
      .filter(col("span_len") >= math.max(minSpan, k).toLong)
  }
}
