package graft.queries

import graft.{QueryDef, Tables}
import graft.llm.{Chunking, Dedup, Multimodal, Similarity, Splits, Substrings, TextAnalysis}
import graft.ops.CacheRegistry
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operator queries (north-star extensions):
  * dedup, similarity search, text analysis, multimodal plumbing.
  */
object LlmQueries {

  /** The frozen BPE artifact rendered as SQL literals, so the
    * q156/q157/q161/q162 oracles carry the exact merge table, vocabulary,
    * and 256-entry byte→printable map the kernels use. Symbols are in
    * mapped printable space (no control characters), but CAN contain a
    * single quote (byte 0x27 maps to itself) — hence sqlQuote.
    */
  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"
  private lazy val bpeMergesValues: String =
    graft.llm.Bpe.frozenMerges.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${sqlQuote(a)}, ${sqlQuote(b)})" }.mkString(", ")
  private lazy val bpeVocabValues: String =
    graft.llm.Bpe.vocab().zipWithIndex
      .map { case (t, i) => s"(${sqlQuote(t)}, $i)" }.mkString(", ")
  private lazy val bpeNumMerges: Int = graft.llm.Bpe.frozenMerges.length

  /** RE2 replay of the kernel's total byte-run pre-tokenizer. The four
    * classes are DISJOINT and every byte falls in exactly one, so the
    * alternation is unambiguous (leftmost-first == leftmost-longest) and
    * the matches concatenate back to the text; multibyte UTF-8 bytes are
    * all >= 0x80, i.e. in the last class, so code-point-level RE2 and
    * byte-level kernel agree on every boundary.
    */
  private val bpePreTokRe: String =
    "[A-Za-z]+|[0-9]+|[ \\t\\n\\f\\r]+|[^A-Za-z0-9 \\t\\n\\f\\r]+"

  /** Shared CTE prefix for the byte-level BPE oracles (use after a
    * `WITH RECURSIVE`): the merge table and byte map as literals, the
    * distinct pre-token vocabulary, initial symbols recovered byte-by-byte
    * from hex(encode(w)) against the 256-entry map literal, and the
    * rank-ordered recursive merge fold (the merge loop itself, re-run
    * cell-for-cell by the second engine). Exposes `merges(rank,a,b)`,
    * `vw(w)`, and `enc(w, r, syms)`; consumers read `enc` at
    * r = numMerges.
    */
  private lazy val bpeOraclePrefix: String = bpeOraclePrefixOver("text", "")

  /** [[bpeOraclePrefix]] with the pre-token source expression, WHERE and
    * FROM parameterized — the multilingual gate row (q172) runs the
    * identical machinery over augmented text, the e2e pipeline (q178)
    * over a staged CTE of extracted text.
    */
  private def bpeOraclePrefixOver(textExpr: String, where: String,
      from: String = "documents"): String = {
    val ms = graft.expressions.BpeKernels.ByteSym.map(sqlQuote).mkString("[", ", ", "]")
    s"""merges(rank, a, b) AS (VALUES $bpeMergesValues),
       |bm AS (SELECT $ms AS ms),
       |vw AS (SELECT DISTINCT unnest(regexp_extract_all($textExpr, '$bpePreTokRe')) AS w FROM $from $where),
       |vwh AS (SELECT w, hex(encode(w)) AS h, octet_length(encode(w)) AS n FROM vw),
       |enc AS (
       |  SELECT w, 0 AS r,
       |    list_transform(list_transform(range(1, n + 1), i ->
       |      ms[(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1))-1)*16
       |         + strpos('0123456789ABCDEF', substr(h, 2*i, 1))]), z -> [z]) AS syms
       |  FROM vwh CROSS JOIN bm
       |  UNION ALL
       |  SELECT enc.w, enc.r + 1,
       |    list_transform(
       |      list_reduce(enc.syms, (acc, x) ->
       |        CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
       |             THEN list_append(acc[:len(acc)-1], m.a || m.b)
       |             ELSE list_append(acc, x[1]) END),
       |      z -> [z]) AS syms
       |  FROM enc JOIN merges m ON m.rank = enc.r)""".stripMargin
  }

  /** One shingle table per (session, sfDir), shared by the gate queries
    * that replay the identical tokenize+shingle chain (q31's pruned
    * inverted index and q32's lossless exact-Jaccard truth side).
    * Deliberately NOT in CacheRegistry: the registry's LRU could evict it
    * between the two consumers, re-paying exactly the pass this exists to
    * share; the pin is bounded by the harness's one-or-two data dirs and
    * dies with the session (the app-id key guards against a stale frame
    * from a stopped test session).
    */
  private def sharedFrame(
      cache: java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame],
      s: org.apache.spark.sql.SparkSession, d: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // evict frames pinned by a PREVIOUS session (sbt test, repeated
    // harness runs share one JVM): stale appId keys reference dead-session
    // DataFrames invisible to CacheRegistry accounting. Unpersist the
    // evictee too — if the old context is still alive its cached blocks
    // would otherwise linger unaccounted; if it is stopped the call throws
    // and the guard ignores it (blocks died with the context).
    cache.entrySet().removeIf { e =>
      val stale = !e.getKey.startsWith(s.sparkContext.applicationId + "|")
      if (stale) {
        try e.getValue.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      stale
    }
    cache.computeIfAbsent(s.sparkContext.applicationId + "|" + d, _ => {
      val f = build.persist()
      f.count() // materialize eagerly so every consumer hits the cache
      f
    })
  }

  private val sharedShingles =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def shingleTok(s: org.apache.spark.sql.SparkSession, d: String) =
    sharedFrame(sharedShingles, s, d) {
      Tables.documents(s, d).select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("toks"))
    }

  /** One unigram-LM score table per (session, sfDir), shared by q150 (the
    * score surface) and q163 (the quantile selection over it) — the
    * corpus tokenize+model+score pass is paid once, the sharedShingles
    * pattern applied to the quality ladder.
    */
  private val sharedScores =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def unigramScores(s: org.apache.spark.sql.SparkSession, d: String) =
    sharedFrame(sharedScores, s, d) {
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
    }

  /** Stage `corpus` as `mod` deterministic slice files (doc_id % mod =
    * 0 .. mod−1) with FORGED ascending mtimes, so a maxFilesPerTrigger=1
    * file stream replays deterministic micro-batch boundaries in slice
    * order. The slices are a pure function of the source table: staged
    * once per (tag, sfDir) and reused while a marker matches the source's
    * mtime; any mismatch restages every slice into an emptied directory
    * (comparing forged per-file mtimes against the source could reuse one
    * stale slice or invert the batch order). Shared by the streaming gate
    * rows: two slices for q136, q158, q170 and q171, more for the
    * frozen-generation rows, which need boot + frozen reuse + a real
    * boundary fold in one run.
    */
  private def stageModSplits(corpus: org.apache.spark.sql.DataFrame, d: String,
      tag: String, mod: Int): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val staged = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${tag}_staged_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(staged)
    val srcMtime = Files.getLastModifiedTime(
      Paths.get(d, "documents.parquet")).toMillis
    val marker = staged.resolve("_src_mtime")
    val names = (0 until mod).map(i => s"${('a' + i).toChar}_m$i.parquet")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker)).trim == srcMtime.toString &&
      names.forall(n => Files.exists(staged.resolve(n)))
    if (!fresh) {
      // a stale file of another slicing would stream as an extra batch
      graft.ops.Layout.deleteRecursively(staged)
      Files.createDirectories(staged)
      names.zipWithIndex.foreach { case (name, i) =>
        val tmpDir = Files.createTempDirectory(s"graft_${tag}_tmp_")
        val tmp = tmpDir.toString + "/p"
        corpus.filter(pmod(col("doc_id"), lit(mod)) === i).coalesce(1).write.parquet(tmp)
        val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { st =>
          st.toArray.map(_.toString)
            .find(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).get
        }
        Files.copy(Paths.get(part), staged.resolve(name), StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(staged.resolve(name),
          FileTime.fromMillis((1000000000L + 100L * i) * 1000))
        graft.ops.Layout.deleteRecursively(tmpDir)
      }
      Files.write(marker, srcMtime.toString.getBytes)
    }
    staged.toString
  }

  private val lastRunDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Per-query previous-invocation scratch dirs: unique dirs keep lazy
    * index reads safe (a deleted shared path would yank files from an
    * un-materialized plan), and deleting the PREVIOUS invocation's dirs
    * at the next invocation bounds /tmp growth to one generation — by
    * then the sequential harness (Verify, Bench passes) has materialized
    * the earlier result.
    */
  private def rotateRunDirs(key: String, dirs: Seq[String]): Unit = {
    val prev = Option(lastRunDirs.put(key, dirs)).getOrElse(Nil)
    prev.foreach(d => graft.ops.Layout.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  /** Shared DuckDB CTE prefix for the portable-MinHash oracle twins
    * (q134, q135): words → shingles → md5-hi32 hashes → 16 sig mins →
    * 4×4 bands → banding candidates. Generated from the same constants
    * the Spark kernels use, in ONE place — the exactness contract
    * requires the twins' hashing/banding SQL to be byte-identical, so
    * there is deliberately no second copy to drift.
    */
  private def portableOraclePrefix: String = {
    val minExprs = (0 until 16).map { j =>
      s"    MIN((h * ${2 * j + 3} + ${104729 * (j + 1)}) % 2147483647) AS s$j"
    }.mkString(",\n")
    val bandSelects = (0 until 4).map { t =>
      val vs = (0 until 4).map(r => s"s${t * 4 + r}").mkString(", ")
      s"  SELECT doc_id, $t AS band, $vs FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""WITH words AS (
       |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) < 3 THEN [list_aggregate(ws, 'string_agg', ' ')]
       |         ELSE list_distinct(list_transform(range(1, len(ws) - 1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS toks
       |  FROM words),
       |inv AS (
       |  SELECT doc_id, unnest(toks) AS w FROM tok),
       |hv AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(0, 8), kk ->
       |      (strpos('0123456789abcdef', substr(md5(w), 1 + CAST(kk AS INT), 1)) - 1)
       |        * CAST(pow(16, 7 - kk) AS BIGINT))) AS h
       |  FROM inv WHERE w IS NOT NULL),
       |sigs AS (
       |  SELECT doc_id,
       |$minExprs
       |  FROM hv GROUP BY doc_id),
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b ON a.band = b.band
       |    AND a.s0 = b.s0 AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.s3 = b.s3
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared SRP-LSH oracle scaffolding (q36/q37): CTEs computing each
    * embedding's 32 hyperplane projections, 4×8-bit signature chunks and
    * band rows. The ±1 plane constants are generated from
    * `TextKernels.srpPlaneSign` — the SAME function the SrpSig kernel
    * evaluates — and the projections are explicit left-associated sums,
    * bit-identical IEEE arithmetic to the kernel loop, so bucket
    * membership replays exactly.
    */
  private def srpOracleCtes(nBits: Int = 32, dim: Int = 64, seed: Long = 7L): String = {
    val bandBits = nBits / 4
    val projCols = (0 until nBits).map { p =>
      val terms = (0 until dim).map { j =>
        if (graft.expressions.TextKernels.srpPlaneSign(seed, p, j) > 0) s" + v[${j + 1}]"
        else s" - v[${j + 1}]"
      }.mkString
      s"    (0.0$terms) AS p$p"
    }.mkString(",\n")
    val chunkCols = (0 until 4).map { bd =>
      val bits = (0 until bandBits).map { r =>
        s"CASE WHEN p${bd * bandBits + r} >= 0 THEN ${1 << r} ELSE 0 END"
      }.mkString(" + ")
      s"    ($bits) AS c$bd"
    }.mkString(",\n")
    val bandRows = (0 until 4)
      .map(bd => s"  SELECT id, $bd AS band, c$bd AS chunk FROM chunks")
      .mkString("\n  UNION ALL\n")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (
       |  SELECT id, v,
       |$projCols
       |  FROM e),
       |chunks AS (
       |  SELECT id,
       |$chunkCols
       |  FROM proj),
       |bands AS (
       |$bandRows)""".stripMargin
  }

  /** Explicit left-associated Σ a[i]·b[i] — the CosineSim kernel's
    * sequential fold, term for term.
    */
  private def srpCosTerm(a: String, b: String, dim: Int = 64): String =
    (0 until dim).map(j => s"$a[${j + 1}]*$b[${j + 1}]").mkString(" + ")

  val defs: Seq[QueryDef] = defsMain ++ defsTail

  private lazy val defsMain: Seq[QueryDef] = Seq(

    // Exact dedup via hash-groupBy (keep min id per key).
    QueryDef.sql(
      "q30_dedup_exact",
      """SELECT l_orderkey AS dup_key, CAST(MIN(l_linenumber) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM lineitem GROUP BY l_orderkey ORDER BY dup_key""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber").cast("long"))
        .orderBy(col("dup_key"))
    },

    // Exact 3-shingle Jaccard near-dup pairs via inverted-index self-join —
    // only pairs sharing a shingle are materialized (no all-pairs stage;
    // shingles, unlike unigrams, are discriminative enough to keep the
    // index sub-quadratic).
    QueryDef.sql(
      "q31_ngram_jaccard",
      """WITH words AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [list_aggregate(ws, 'string_agg', ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS toks
        |  FROM words),
        |inv_raw AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |keep AS (SELECT w FROM (SELECT w, COUNT(*) AS dfq FROM inv_raw GROUP BY w)
        |  WHERE dfq <= 0.01 * (SELECT COUNT(*) FROM documents)),
        |inv AS (SELECT inv_raw.doc_id, inv_raw.w FROM inv_raw JOIN keep USING (w)),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM inv a JOIN inv b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, inter, CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.6
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      // maxDocFreq = 0.01 keeps the boilerplate guard LIVE in the gate
      // (fixture max shingle doc-frequency is 1.4%, so the 1% cutoff
      // actually drops shingles); the oracle applies the same cutoff.
      // Shingle table shared with q32 (same chain, one kernel pass).
      Dedup.ngramJaccardPairsFromToks(shingleTok(s, d), 0.6, maxDocFreq = 0.01)
        .select(col("id1"), col("id2"), col("inter"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"), col("jaccard"))
        .orderBy(col("id1"), col("id2"))
    },

    // MinHash+LSH candidate pairs, exact-Jaccard verified. LSH recall is
    // probabilistic in general, but at j ≥ 0.9 the 8-band × 4-row scheme
    // misses a pair with P ≤ (1−0.9⁴)⁸ ≈ 2·10⁻⁴ — and the kernel's seeds
    // are fixed, so on a given fixture the result is deterministic. The
    // GATE row therefore lists every EXACT pair at Jaccard ≥ 0.9 (the
    // oracle replays the shingle/Jaccard math, same CTEs as q31) with an
    // `lsh_found` boolean the oracle expects literal-true: a broken
    // signature kernel, banding, or verification join flips it.
    QueryDef.sql(
      "q32_minhash_lsh",
      """WITH words AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [list_aggregate(ws, 'string_agg', ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS toks
        |  FROM words),
        |inv AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM inv a JOIN inv b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  ROUND(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jaccard,
        |  true AS lsh_found
        |FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.9
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
          bands = 8, rowsPerBand = 4, threshold = 0.5)
        .select(col("id1"), col("id2"), lit(true).as("hit"))
      // truth side MUST stay lossless (maxDocFreq = 1.0); its shingle
      // table is the q31-shared one, so the chain runs once per gate run
      Dedup.ngramJaccardPairsFromToks(shingleTok(s, d), 0.9, maxDocFreq = 1.0)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .join(lsh, Seq("id1", "id2"), "left")
        .withColumn("lsh_found", coalesce(col("hit"), lit(false))).drop("hit")
        .orderBy(col("id1"), col("id2"))
    },

    // SimHash signatures + rolling-hash fingerprints (custom codegen
    // expressions) — HASH-EXACT: both kernels are pure integer folds, so
    // the oracle replays them digit-for-digit with HUGEINT arithmetic.
    // Bytes come from hex(encode(...)) parsed two digits at a time (exact
    // for all UTF-8); fnv1a's wrapping ×2^64 runs in int128 (product
    // < 2^104), its xor touches only the low 8 bits so it reduces to
    // BIGINT xor over h%256; the rolling hash's (acc·257+b) < 2^69 is
    // int128-exact before % (2^61−1). Signature bits are extracted from
    // 32-bit halves (f64-exact, the q34 convention), and the signed Long
    // is rebuilt with an explicit 2^64 wrap. simHash64's separator set is
    // [ \t\n\r] (no \f — unlike the md5 kernel), mirrored in the regex.
    QueryDef.sql(
      "q33_simhash",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '[ \t\n\r]'), t -> length(t) > 0)) AS t
        |  FROM documents),
        |tokbytes AS (
        |  SELECT doc_id, t,
        |    list_transform(range(0, CAST(strlen(t) AS INT)), i ->
        |      CAST((strpos('0123456789abcdef', substr(lower(hex(encode(t))), 1 + 2*CAST(i AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(lower(hex(encode(t))), 2 + 2*CAST(i AS INT), 1)) - 1) AS HUGEINT)) AS bs
        |  FROM tok),
        |hv AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bs),
        |      (h, b) -> ((h // 256) * 256 + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))
        |                ) * 1099511628211 % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM tokbytes),
        |halves AS (
        |  SELECT doc_id, CAST(h // 4294967296 AS BIGINT) AS hi, CAST(h % 4294967296 AS BIGINT) AS lo
        |  FROM hv),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN b < 32
        |      THEN CAST(floor(lo / pow(2.0, CAST(b AS DOUBLE))) AS BIGINT) % 2
        |      ELSE CAST(floor(hi / pow(2.0, CAST(b - 32 AS DOUBLE))) AS BIGINT) % 2
        |      END * 2 - 1) AS v
        |  FROM halves CROSS JOIN range(0, 64) r(b) GROUP BY doc_id, b),
        |sigparts AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN b < 32 AND v > 0 THEN CAST(pow(2.0, CAST(b AS DOUBLE)) AS BIGINT) ELSE 0 END) AS losig,
        |    SUM(CASE WHEN b >= 32 AND v > 0 THEN CAST(pow(2.0, CAST(b - 32 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS hisig
        |  FROM votes GROUP BY doc_id),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(CAST(hisig AS HUGEINT) * 4294967296 + losig
        |      - CASE WHEN hisig >= 2147483648 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS simhash
        |  FROM sigparts),
        |docbytes AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(strlen(text) AS INT)), i ->
        |      CAST((strpos('0123456789abcdef', substr(lower(hex(encode(text))), 1 + 2*CAST(i AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(lower(hex(encode(text))), 2 + 2*CAST(i AS INT), 1)) - 1) AS HUGEINT)) AS bs
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), bs),
        |      (acc, b) -> (acc * 257 + b) % 2305843009213693951) AS BIGINT) AS fp64
        |  FROM docbytes)
        |SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash, f.fp64
        |FROM documents d LEFT JOIN sigs s USING (doc_id) JOIN fp f USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Dedup.simHash(col("text")).as("simhash"),
          TextAnalysis.hashFingerprint(col("text")).as("fp64"))
        .orderBy(col("doc_id"))
    },

    // SimHash near-dup pairs (Hamming <= 6 over 64 bits, chunk-bucketed).
    // Runs the PORTABLE md5-based signature (Dedup.simHashMd5Sigs) on the
    // kernel's own feature basis — frequency-weighted raw whitespace
    // tokens: the oracle replays the whole kernel (md5 halves parsed
    // digit-by-digit, per-bit majority vote, Hamming count), so the
    // pigeonhole pair set is cell-exact, not rows-only (q33 keeps the
    // production splitmix64 kernel under its rows-only + spec guard).
    // Zero-token docs are excluded on both sides.
    QueryDef.sql(
      "q34_simhash_pairs",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks WHERE len(ts) > 0),
        |hv AS (SELECT doc_id, md5(t) AS h FROM tok),
        |halves AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 8), k ->
        |      (strpos('0123456789abcdef', substr(h, 1 + CAST(k AS INT), 1)) - 1)
        |        * CAST(pow(16, 7 - k) AS BIGINT))) AS hi,
        |    list_sum(list_transform(range(0, 8), k ->
        |      (strpos('0123456789abcdef', substr(h, 9 + CAST(k AS INT), 1)) - 1)
        |        * CAST(pow(16, 7 - k) AS BIGINT))) AS lo
        |  FROM hv),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN b < 32
        |      THEN CAST(floor(lo / pow(2.0, CAST(b AS DOUBLE))) AS BIGINT) % 2
        |      ELSE CAST(floor(hi / pow(2.0, CAST(b - 32 AS DOUBLE))) AS BIGINT) % 2
        |      END * 2 - 1) AS v
        |  FROM halves CROSS JOIN range(0, 64) r(b) GROUP BY doc_id, b),
        |sig AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
        |ham AS (
        |  SELECT s1.doc_id AS id1, s2.doc_id AS id2,
        |    CAST(SUM(CASE WHEN s1.bit <> s2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM sig s1 JOIN sig s2 ON s1.b = s2.b AND s1.doc_id < s2.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, hamming FROM ham WHERE hamming <= 6
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Dedup.simHashPairsPortable(Tables.documents(s, d), "doc_id", "text", maxHamming = 6)
        .orderBy(col("id1"), col("id2"))
    },

    // ENGINE-PORTABLE MinHash-LSH (the oracle-replayable twin of q32's
    // kernel MinHash): md5 hi-32 base hash per shingle, 16 exact
    // universal hashes mod 2^31-1, 4×4 banding, exact-Jaccard verify —
    // every step integer-deterministic, so the candidate SET (not just
    // verified metrics) is hash-checked. The oracle SQL is generated
    // from the same (a_j, b_j) constants the Spark side uses.
    QueryDef.sql(
      "q134_minhash_lsh_portable", {
        s"""$portableOraclePrefix,
           |scored AS (
           |  SELECT id1, id2,
           |    CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter,
           |    CAST(len(ta.toks) AS BIGINT) AS n1, CAST(len(tb.toks) AS BIGINT) AS n2
           |  FROM cand JOIN tok ta ON ta.doc_id = id1 JOIN tok tb ON tb.doc_id = id2)
           |SELECT id1, id2,
           |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) AS jaccard
           |FROM scored
           |WHERE CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5
           |ORDER BY id1, id2""".stripMargin
      }) { (s, d) =>
      Dedup.minHashLshPairsPortable(Tables.documents(s, d), "doc_id", "text", 0.5)
        .orderBy(col("id1"), col("id2"))
    },

    // INCREMENTAL near-dup dedup against a persistent signature index —
    // the daily-ingest pipeline shape: documents arrive in three batches
    // (doc_id mod 3), each deduplicated against everything previously
    // seen via the at-rest band index (history scanned, never shuffled),
    // first occurrence wins. Because all signatures are appended and
    // precedence is (batch, id) = (doc_id mod 3, doc_id), the final keep
    // set is a pure function of the corpus: kept iff no verified
    // neighbor precedes — which the oracle replays from q134's portable
    // pair machinery. The three-batch Spark run and the batch-free SQL
    // rule must agree doc-for-doc.
    QueryDef.sql(
      "q135_incremental_dedup", {
        s"""$portableOraclePrefix,
           |hsets AS (
           |  SELECT doc_id, list_distinct(list(h)) AS hset FROM hv GROUP BY doc_id),
           |scored AS (
           |  SELECT id1, id2,
           |    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
           |    CAST(len(ha.hset) AS BIGINT) AS n1, CAST(len(hb.hset) AS BIGINT) AS n2
           |  FROM cand JOIN hsets ha ON ha.doc_id = id1 JOIN hsets hb ON hb.doc_id = id2),
           |pairs AS (
           |  SELECT id1, id2 FROM scored
           |  WHERE CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5),
           |dropped AS (
           |  SELECT CASE WHEN (id1 % 3 < id2 % 3) OR (id1 % 3 = id2 % 3 AND id1 < id2)
           |              THEN id2 ELSE id1 END AS did
           |  FROM pairs)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT did FROM dropped)
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      // the three increments filter the same table (pmod isn't a
      // pushable predicate), so the projected text is cached rather than
      // scanned three times; in production batches arrive as separate
      // directories (see nearDedupStreaming) and no re-scan exists
      val docs = CacheRegistry.persist(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      // a UNIQUE index dir per invocation (lazy-read safety); previous
      // invocation's dir is reclaimed now that its result is settled
      val dir = java.nio.file.Files.createTempDirectory("graft_neardedup_idx_").toString
      rotateRunDirs("q135", Seq(dir))
      val results = (0 until 3).map { b =>
        Dedup.nearDedupIncrement(
          docs.filter(pmod(col("doc_id"), lit(3)) === b), "doc_id", "text", dir, 0.5,
          epoch = b)
      }
      results.reduce(_.unionByName(_)).filter(col("kept"))
        .select(col("id").cast("long").as("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Incremental EXACT dedup against the persistent fingerprint index —
    // the exact complement of q135: three doc_id%3 batches drained through
    // Dedup.exactDedupIncrement with first-epoch-wins precedence. The
    // fingerprint is a HEAD fingerprint (md5 of the first 8 lowercase
    // tokens — the crawl-pipeline leading-content address; raw texts are
    // collision-free at this sf, a head fingerprint has real duplicates),
    // and the oracle replays the whole three-epoch run as one batch-free
    // rule: kept iff no same-fingerprint doc precedes in (epoch, id)
    // order. Index holds only (fp, epoch); batch fingerprints broadcast.
    QueryDef.sql(
      "q141_exact_dedup_incremental",
      """WITH f AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS ep,
        |    md5(coalesce(list_aggregate(list_transform(
        |      regexp_extract_all(text, '[A-Za-z]+')[1:8], x -> lower(x)),
        |      'string_agg', ' '), '')) AS fp
        |  FROM documents)
        |SELECT f.doc_id, f.ep,
        |  NOT EXISTS (SELECT 1 FROM f f2 WHERE f2.fp = f.fp
        |    AND (f2.ep < f.ep OR (f2.ep = f.ep AND f2.doc_id < f.doc_id))) AS kept
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = CacheRegistry.persist(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      val dir = java.nio.file.Files.createTempDirectory("graft_exactdedup_idx_").toString
      rotateRunDirs("q141", Seq(dir))
      val fp = md5(concat_ws(" ", slice(
        expr("transform(regexp_extract_all(text, '[A-Za-z]+', 0), x -> lower(x))"), 1, 8)))
      val results = (0 until 3).map { b =>
        Dedup.exactDedupIncrement(
            docs.filter(pmod(col("doc_id"), lit(3)) === b), "doc_id", fp, dir, epoch = b)
          .withColumn("ep", lit(b.toLong))
      }
      results.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("ep"), col("kept"))
        .orderBy(col("doc_id"))
    },

    // Index-lifecycle gate row (#89, previously spec-only): compaction is
    // DECISION-NEUTRAL. One three-epoch exact-dedup run with
    // nearDedupIndexCompact between epochs 1 and 2 (folds the settled
    // epoch 0 into the sentinel generation while epoch 1 stays) — the
    // oracle replays the batch-free first-epoch-wins rule over the WHOLE
    // corpus, so epoch-2 decisions made against the compacted index must
    // equal the never-compacted semantics cell-for-cell. A compaction
    // that dropped, duplicated-with-effect, or re-epoched state visibly
    // flips `kept` rows. (LlmSpec separately pins compacted ≡ raw at the
    // state level; a second uncompacted run here would restate what the
    // oracle already proves.)
    QueryDef.sql(
      "q148_compaction_neutral",
      """WITH f AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS ep,
        |    md5(coalesce(list_aggregate(list_transform(
        |      regexp_extract_all(text, '[A-Za-z]+')[1:8], x -> lower(x)),
        |      'string_agg', ' '), '')) AS fp
        |  FROM documents)
        |SELECT f.doc_id, f.ep,
        |  NOT EXISTS (SELECT 1 FROM f f2 WHERE f2.fp = f.fp
        |    AND (f2.ep < f.ep OR (f2.ep = f.ep AND f2.doc_id < f.doc_id))) AS kept
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = CacheRegistry.persist(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      val dir = java.nio.file.Files.createTempDirectory("graft_compactneutral_").toString
      rotateRunDirs("q148", Seq(dir))
      val fp = md5(concat_ws(" ", slice(
        expr("transform(regexp_extract_all(text, '[A-Za-z]+', 0), x -> lower(x))"), 1, 8)))
      val parts = (0 until 3).map { b =>
        val r = Dedup.exactDedupIncrement(
            docs.filter(pmod(col("doc_id"), lit(3)) === b), "doc_id", fp, dir, epoch = b)
          .withColumn("ep", lit(b.toLong))
        if (b == 1) Dedup.nearDedupIndexCompact(s, dir)
        r
      }
      parts.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("ep"), col("kept"))
        .orderBy(col("doc_id"))
    },

    // Most-common-element repetition signals (the argmax half of the
    // Gopher repetition-rule family, complementing q39/q40's
    // distinct-ratio half): per-doc word and adjacent-bigram frequency
    // maps fused into ONE byte pass (RepetitionStats kernel — no
    // explode, no token shuffle; the oracle replays the same counts via
    // unnest + group-by). Ratio doubles are formed by the identical IEEE
    // op sequence on both sides, so the gate compare is exact.
    QueryDef.sql(
      "q142_repetition_signals",
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
        |w AS (
        |  SELECT doc_id, l[pos] AS word, pos
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(l))) AS pos)),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |             CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words
        |      FROM w GROUP BY 1),
        |twc AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_word_cnt
        |        FROM (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2) GROUP BY 1),
        |bgc AS (SELECT doc_id, word || chr(1) || next_word AS bigram, count(*) AS cnt
        |        FROM (SELECT doc_id, l[pos] AS word, l[pos + 1] AS next_word
        |              FROM d, LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS pos))
        |        GROUP BY 1, 2),
        |tbc AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt FROM bgc GROUP BY 1)
        |SELECT c.doc_id, c.n_words, c.n_distinct_words, twc.top_word_cnt,
        |  CAST(coalesce(tbc.top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |  1.0 - c.n_distinct_words * 1.0 / c.n_words AS dup_word_ratio,
        |  twc.top_word_cnt * 1.0 / c.n_words AS top_word_frac,
        |  CASE WHEN c.n_words < 2 THEN 0.0
        |       ELSE coalesce(tbc.top_bigram_cnt, 0) * 1.0 / (c.n_words - 1) END AS top_bigram_frac
        |FROM c JOIN twc USING (doc_id) LEFT JOIN tbc USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("rs"))
        .select(col("doc_id"), col("rs.n_words").as("n_words"),
          col("rs.n_distinct_words").as("n_distinct_words"),
          col("rs.top_word_cnt").as("top_word_cnt"),
          col("rs.top_bigram_cnt").as("top_bigram_cnt"))
        .withColumn("dup_word_ratio",
          lit(1.0) - col("n_distinct_words") * lit(1.0) / col("n_words"))
        .withColumn("top_word_frac", col("top_word_cnt") * lit(1.0) / col("n_words"))
        .withColumn("top_bigram_frac",
          when(col("n_words") < 2, lit(0.0))
            .otherwise(col("top_bigram_cnt") * lit(1.0) / (col("n_words") - lit(1))))
        .orderBy(col("doc_id"))
    },

    // STREAMING near-dup dedup as a REAL streaming query: documents
    // staged as two files (doc_id parity, mtime-ordered), drained
    // through foreachBatch increments against the persistent index.
    // Batch boundaries are deterministic, so the streamed keep set is
    // the same pure function of the corpus as q135 with precedence
    // (doc_id % 2, doc_id) — oracle-exact, not just spec-pinned.
    QueryDef.sql(
      "q136_stream_near_dedup", {
        s"""$portableOraclePrefix,
           |hsets AS (
           |  SELECT doc_id, list_distinct(list(h)) AS hset FROM hv GROUP BY doc_id),
           |scored AS (
           |  SELECT id1, id2,
           |    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
           |    CAST(len(ha.hset) AS BIGINT) AS n1, CAST(len(hb.hset) AS BIGINT) AS n2
           |  FROM cand JOIN hsets ha ON ha.doc_id = id1 JOIN hsets hb ON hb.doc_id = id2),
           |pairs AS (
           |  SELECT id1, id2 FROM scored
           |  WHERE CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5),
           |dropped AS (
           |  SELECT CASE WHEN (id1 % 2 < id2 % 2) OR (id1 % 2 = id2 % 2 AND id1 < id2)
           |              THEN id2 ELSE id1 END AS did
           |  FROM pairs)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT did FROM dropped)
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val staged = stageModSplits(corpus, d, "q136", 2)
      val base = java.nio.file.Files.createTempDirectory("graft_q136_").toString
      rotateRunDirs("q136", Seq(base))
      Dedup.nearDedupStreaming(s, staged, corpus.schema,
          "doc_id", "text", base + "/idx", base + "/out", 0.5)
        .filter(col("kept"))
        .select(col("id").cast("long").as("doc_id"))
        .orderBy(col("doc_id"))
    },

    // Brute-force cosine top-5 neighbors for 10 query vectors — exact ANN
    // baseline; ranking on round(cos,4) with id tie-break keeps order
    // deterministic across engines.
    QueryDef.sql(
      "q35_cosine_topk",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT qid, nid, ROUND(list_cosine_similarity(qv, nv), 4) AS cos
        |      FROM q CROSS JOIN c WHERE qid <> nid)
        |SELECT qid, nid, cos FROM (
        |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        |  FROM s) WHERE rn <= 5
        |ORDER BY qid, nid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val scored = corpus.crossJoin(broadcast(
          queries.select(col("id").as("qid"), col("vec").cast("array<double>").as("qv"))))
        .filter(col("qid") =!= col("id"))
        .select(col("qid"), col("id").as("nid"),
          round(Similarity.cosine(col("qv"), col("vec").cast("array<double>")), 4).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid"), col("nid"), col("cos"))
        .orderBy(col("qid"), col("nid"))
    },

    // SRP-LSH approximate neighbors, exact-cosine re-ranked — HASH-EXACT
    // despite recall<1 (the exact baseline is q35): the output is a
    // DETERMINISTIC function of the data, so the oracle replays bucket
    // collisions (embedded plane constants, q37's machinery), the exact
    // cosine, and the raw-cosine ranking with nid tie-break.
    QueryDef.sql(
      "q36_cosine_lsh_topk", {
        s"""${srpOracleCtes()},
           |cand AS (
           |  SELECT DISTINCT a.id AS qid, b.id AS nid
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
           |    AND a.id < 10 AND a.id <> b.id),
           |scored AS (
           |  SELECT qid, nid,
           |    (${srpCosTerm("a.v", "b.v")}) AS dot,
           |    (${srpCosTerm("a.v", "a.v")}) AS na, (${srpCosTerm("b.v", "b.v")}) AS nb
           |  FROM cand JOIN e a ON a.id = qid JOIN e b ON b.id = nid),
           |cosv AS (
           |  SELECT qid, nid,
           |    CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos
           |  FROM scored),
           |ranked AS (
           |  SELECT qid, nid, cos,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
           |  FROM cosv)
           |SELECT qid, nid, ROUND(cos, 4) AS cos FROM ranked WHERE rn <= 5
           |ORDER BY qid, nid""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("id"), col("embedding").as("vec")),
          emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
          k = 5)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("qid"), col("nid"))
    },

    // IVF ANN: driver-trained coarse quantizer (bounded sample, spherical
    // k-means), distributed codegen cell assignment, probe-pruned search.
    // Recall is engine-specific, so the GATE row checks the two spec
    // invariants as oracle-expected literal-true booleans: (1) probing
    // EVERY cell scores every vector, so full-probe == brute force
    // EXACTLY (identity, not approximation); (2) the gate's partial probe
    // (nProbe = nCells/4) keeps set recall ≥ 0.5. A broken quantizer,
    // cell assignment, or probe join flips a boolean.
    QueryDef.sql(
      "q72_ivf_topk",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS full_probe_exact, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val centroids = Similarity.ivfTrain(corpus, k = 16)
      val full = Similarity.ivfTopK(queries, corpus, centroids, k = 5, nProbe = 16)
        .select(col("qid"), col("nid"))
      val part = Similarity.ivfTopK(queries, corpus, centroids, k = 5, nProbe = 4)
        .select(col("qid"), col("nid"))
      val brute = Similarity.bruteForceTopK(queries, corpus, k = 5)
        .select(col("qid"), col("nid"))
      Similarity.annGuard(queries, brute, exactTwin = Some(full), approx = part,
        recallFloor = 0.5)
    },

    // Product-quantization ANN (IVF-PQ's compression leg): corpus rows
    // carry only m=8 sub-codes after a one-pass codegen encode; the ADC
    // scan over codes builds a 100-deep shortlist whose true vectors are
    // exact-cosine re-ranked (the production IVF-PQ shape). Unit-sphere
    // normalization makes PQ's L2 order equal cosine order, so brute-force
    // cosine is the exact baseline. The GATE row checks the spec's recall
    // floor as an oracle-expected literal-true boolean (a broken encoder,
    // ADC table, or re-rank collapses recall and flips it); LlmSpec keeps
    // the tighter recall@10 bound and the determinism check.
    QueryDef.sql(
      "q130_pq_topk",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val codebooks = Similarity.pqTrain(corpus, m = 8, k = 16)
      val pq = Similarity.pqTopK(queries, corpus, codebooks, k = 5, rerank = 100)
        .select(col("qid"), col("nid"))
      val brute = Similarity.bruteForceTopK(queries, corpus, k = 5)
        .select(col("qid"), col("nid"))
      Similarity.annGuard(queries, brute, approx = pq, recallFloor = 0.6)
    },

    // IVF-PQ: the production ANN composition — coarse cells prune the
    // scan (only nProbe cells per query are touched), PQ codes compress
    // what remains (ADC scan over m=8 sub-codes), exact-cosine re-rank
    // of the shortlist. The GATE row checks both spec invariants as
    // oracle-expected literal-true booleans: probing every cell makes
    // IVF-PQ degenerate to flat PQ EXACTLY (identity), and the gate's
    // partial-probe budget (nProbe=4, rerank=50) holds a recall floor vs
    // brute force. A broken cell route, ADC, or re-rank flips one.
    QueryDef.sql(
      "q131_ivfpq_topk",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS full_eq_flat, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val centroids = Similarity.ivfTrain(corpus, k = 16)
      val codebooks = Similarity.pqTrain(corpus, m = 8, k = 16)
      val full = Similarity.ivfPqTopK(queries, corpus, centroids, codebooks,
          k = 5, nProbe = 16, rerank = 100)
        .select(col("qid"), col("nid"))
      val flat = Similarity.pqTopK(queries, corpus, codebooks, k = 5, rerank = 100)
        .select(col("qid"), col("nid"))
      val part = Similarity.ivfPqTopK(queries, corpus, centroids, codebooks,
          k = 5, nProbe = 4, rerank = 50)
        .select(col("qid"), col("nid"))
      val brute = Similarity.bruteForceTopK(queries, corpus, k = 5)
        .select(col("qid"), col("nid"))
      Similarity.annGuard(queries, brute, approx = part, recallFloor = 0.5,
        exactTwin = Some(full), identityCol = "full_eq_flat",
        twinBase = Some(flat))
    },

    // Embedding-space near-duplicate pairs via SRP buckets — HASH-EXACT:
    // the ±1 hyperplanes are a pure splitmix64 function of (seed, bit,
    // dim), so the generated oracle embeds the SAME plane constants
    // (single-sourced from TextKernels.srpPlaneSign) and replays the
    // bucketing with explicit left-associated sums — bit-identical IEEE
    // arithmetic to the kernel loop, so the candidate SET and the exact
    // cosine verification both match digit-for-digit (the dense-vector
    // sibling of q34's md5 SimHash proof).
    QueryDef.sql(
      "q37_embedding_neardup", {
        s"""${srpOracleCtes()},
           |cand AS (
           |  SELECT DISTINCT a.id AS id1, b.id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id),
           |scored AS (
           |  SELECT id1, id2,
           |    (${srpCosTerm("a.v", "b.v")}) AS dot,
           |    (${srpCosTerm("a.v", "a.v")}) AS na, (${srpCosTerm("b.v", "b.v")}) AS nb
           |  FROM cand JOIN e a ON a.id = id1 JOIN e b ON b.id = id2),
           |cosv AS (
           |  SELECT id1, id2,
           |    CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos
           |  FROM scored)
           |SELECT id1, id2, ROUND(cos, 4) AS cos FROM cosv WHERE cos >= 0.35
           |ORDER BY id1, id2""".stripMargin
      }) { (s, d) =>
      // band width scales with the corpus: 8-bit bands = 256 buckets —
      // fine at gate scale (oracle-replayed, 500 vecs), but candidates
      // grow N²/256 past ~100k vectors (measured at sf10: a full-disk
      // spill). 16-bit bands (65k buckets) keep occupancy constant; the
      // sf0.01 oracle always sees the 32-bit form it replays.
      val emb = Tables.embeddings(s, d)
      val nBits = if (emb.count() <= 100000L) 32 else 64
      Similarity.cosineNearDupPairs(
          emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.35, nBits = nBits)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("id1"), col("id2"))
    },

    // Semantic dedup (SemDeDup): IVF-cluster the corpus, cosine pairs
    // within cells only, connected components, keep min id per group —
    // the embedding-space sibling of q57's lexical dedupCorpus. k-means
    // cells aren't SQL-expressible, so the GATE row checks the keep-list's
    // defining invariants per document as an oracle-expected literal-true
    // boolean: a KEPT doc has no kept within-cell neighbor at cos ≥ θ
    // (else both would share a cluster and one must drop), and a DROPPED
    // doc has at least one within-cell neighbor at cos ≥ θ (else nothing
    // justified dropping it). A broken cell assignment, cosine, CC, or
    // keep rule flips some row; LlmSpec keeps the brute-force keep-list
    // equality on a clustered fixture plus a tamper negative test.
    QueryDef.sql(
      "q113_semantic_dedup",
      """SELECT vec_id AS id, true AS guard_ok FROM embeddings ORDER BY id""".stripMargin) { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // cell count scales with the corpus (fixed target cell size) so the
      // within-cell pair work stays LINEAR — k=8 at 100x data measured a
      // 62x decade factor; the guard semantics are cell-count-agnostic
      val k = Similarity.scaledCellCount(corpus.count())
      val centroids = Similarity.ivfTrain(corpus, k = k,
        sampleSize = math.max(4096, 8 * k))
      // 0.35 matches this fixture's near-dup population (its densest
      // cosine band; same threshold as q37) — real corpora tune higher
      val keep = Similarity.semanticDedup(corpus, centroids, threshold = 0.35)
      Similarity.semanticDedupGuard(corpus, centroids, threshold = 0.35, keep)
        .orderBy(col("id"))
    },

    // Text statistics: token counts (ws + BPE-ish), stopwords, punctuation,
    // composite quality score — identical expression shape on both engines
    // keeps doubles bit-exact with no rounding.
    QueryDef.sql(
      "q38_text_stats",
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok_bpe,
        |  CAST(len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)),
        |       x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT) AS stop_cnt,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text) END AS punct_ratio,
        |  GREATEST(0.0, LEAST(1.0,
        |    LEAST(length(text) / 200.0, 1.0) * 0.4 +
        |    CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) = 0 THEN 0.0
        |         ELSE LEAST(CAST(len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)),
        |          x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(regexp_extract_all(text, '[A-Za-z]+')) * 4.0, 1.0) END * 0.4 +
        |    (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text) END) * 0.2
        |  )) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tok_ws"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_tok_bpe"),
          TextAnalysis.stopwordCount(col("text")).as("stop_cnt"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // Language-ID heuristic (stopword-hit argmax, deterministic tie-break).
    QueryDef.sql(
      "q39_langid",
      """WITH t AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is','fast','slow','small'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les','des','est'))) AS s_fr
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_fr > GREATEST(s_en, s_es, s_de, 0) THEN 'fr'
        |       WHEN s_de > GREATEST(s_en, s_es, 0) THEN 'de'
        |       WHEN s_es > GREATEST(s_en, 0) THEN 'es'
        |       WHEN s_en > 0 THEN 'en' ELSE 'und' END AS predicted
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))
    },

    // Content fingerprint (normalized md5 — portable) + per-fingerprint dedup.
    QueryDef.sql(
      "q40_fingerprint",
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // Multimodal features on REAL pixels: one deterministic synthetic PNG
    // per document (dimensions and gray values are closed-form functions
    // of the id — Multimodal.synthGray), ENCODED with ImageIO on the
    // executors, then DECODED back through the actual javax.imageio path
    // in a per-partition batch loop, with pixel statistics computed from
    // the decoded buffer. The oracle never decodes: PNG is lossless, so
    // it replays the pixel formula in closed form — any codec defect on
    // the Spark side breaks the hash. Exact mean: integer pixel sum ÷
    // count in double, same ROUND both sides.
    QueryDef.sql(
      "q41_multimodal_features",
      """WITH b AS (
        |  SELECT doc_id AS media_id, CAST(8 + doc_id % 5 AS INT) AS width,
        |    CAST(6 + doc_id % 4 AS INT) AS height
        |  FROM documents),
        |p AS (
        |  SELECT media_id, width, height,
        |    list_transform(range(0, width*height), i ->
        |      (media_id*31 + (i % width)*7 + (i // width)*13) % 256) AS px
        |  FROM b)
        |SELECT media_id, width, height, CAST(width*height AS BIGINT) AS n_px,
        |  ROUND(CAST(list_sum(px) AS DOUBLE) / (width*height), 4) AS mean_gray,
        |  CAST(list_min(px) AS INT) AS min_gray,
        |  CAST(list_max(px) AS INT) AS max_gray,
        |  CAST(len(list_filter(px, v -> v > 127)) AS BIGINT) AS n_bright
        |FROM p ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = Multimodal.syntheticImageTable(s, Tables.documents(s, d), "doc_id")
      Multimodal.imageFeatures(s, media)
        .select(col("media_id"), col("width"), col("height"), col("n_px"),
          round(col("mean_gray"), 4).as("mean_gray"),
          col("min_gray"), col("max_gray"), col("n_bright"))
        .orderBy(col("media_id"))
    },

    // Multimodal resize + patch sampling on REAL pixels: synthetic PNG →
    // ImageIO decode → nearest-neighbor resample to a fixed 6×4 gray
    // plane (integer source mapping x·w0÷6, y·h0÷4 — the one resampling
    // rule both engines can replay bit-for-bit) → byte-slice patches over
    // the RAW pixel buffer. The oracle replays decode∘NN in closed form
    // and the slicing arithmetic symbolically; gray_sum pins every
    // resampled pixel value through the patch path (ByteSum kernel).
    QueryDef.sql(
      "q42_multimodal_patches",
      """WITH b AS (
        |  SELECT doc_id AS media_id, CAST(8 + doc_id % 5 AS INT) AS w0,
        |    CAST(6 + doc_id % 4 AS INT) AS h0
        |  FROM documents),
        |r AS (
        |  SELECT media_id,
        |    list_transform(range(0, 24), i ->
        |      (media_id*31 + (((i % 6) * w0) // 6)*7 + (((i // 6) * h0) // 4)*13) % 256) AS px
        |  FROM b)
        |SELECT media_id,
        |  CAST(len(list_filter([0, 1, 2, 3], i -> 24 - i*8 > 0)) AS BIGINT) AS n_patches,
        |  CAST(list_sum(list_transform(list_filter([0, 1, 2, 3], i -> 24 - i*8 > 0),
        |    i -> LEAST(8, 24 - i*8))) AS BIGINT) AS patch_bytes,
        |  CAST(list_sum(px) AS BIGINT) AS gray_sum,
        |  CAST(6 AS INT) AS w, CAST(4 AS INT) AS h
        |FROM r ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = Multimodal.syntheticImageTable(s, Tables.documents(s, d), "doc_id")
      val resized = Multimodal.resizeNearest(s, media, w = 6, h = 4)
      Multimodal.samplePatches(resized, n = 4, patchBytes = 8)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_patches"),
          sum(length(col("patch"))).as("patch_bytes"),
          sum(Multimodal.byteSum(col("patch"))).as("gray_sum"),
          max(col("meta.width")).as("w"), max(col("meta.height")).as("h"))
        .orderBy(col("media_id"))
    },

    // Repetition quality filters (public Gopher/MassiveText rule family):
    // distinct-unigram ratio, duplicate-bigram fraction, and the dominant
    // token's frequency share. One tokenization and one projection: the
    // top-token count is a per-row kernel over the same token array.
    QueryDef.sql(
      "q82_repetition_stats",
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ws) = 0 THEN 0.0
        |         ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END AS uniq_ratio,
        |    CASE WHEN len(ws) < 2 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(ws)),
        |              i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE) / (len(ws) - 1) END AS dup_bigram_frac
        |  FROM t),
        |top AS (
        |  SELECT doc_id, MAX(c) AS top_c FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM (SELECT doc_id, unnest(ws) AS w FROM t)
        |    GROUP BY doc_id, w) GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tok, b.uniq_ratio, b.dup_bigram_frac,
        |  CASE WHEN b.n_tok = 0 THEN 0.0 ELSE CAST(COALESCE(top.top_c, 0) AS DOUBLE) / b.n_tok END AS top_tok_frac
        |FROM base b LEFT JOIN top USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tok"),
          TextAnalysis.distinctUnigramRatio(col("ws")).as("uniq_ratio"),
          TextAnalysis.dupBigramFraction(col("ws")).as("dup_bigram_frac"),
          TextAnalysis.topTokenCount(col("ws")).as("top_c"))
        .select(col("doc_id"), col("n_tok"), col("uniq_ratio"), col("dup_bigram_frac"),
          when(col("n_tok") === 0, lit(0.0))
            .otherwise(coalesce(col("top_c"), lit(0L)).cast("double") / col("n_tok").cast("double"))
            .as("top_tok_frac"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split: md5-prefix bucketing — stable
    // under data growth, no RNG, shuffle-free; oracle replays the same
    // hex arithmetic in DuckDB.
    QueryDef.sql(
      "q75_dataset_split",
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bkt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Splits.assignSplit(col("doc_id")).as("split"))
        .orderBy(col("doc_id"))
    },

    // End-to-end training-data pipeline: quality filter -> exact dedup
    // (md5 fingerprint, keep min id) -> deterministic split -> per-split
    // doc/token counts. Every stage is oracle-expressible, so the WHOLE
    // composition is checked cell-exact — the flagship "a user could run
    // their curation pipeline on this" query. Scale shape: one shuffle on
    // 16-byte fingerprints (dedup), map-side-combined final agg; documents
    // are never shuffled whole.
    QueryDef.sql(
      "q76_pipeline_e2e",
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    GREATEST(0.0, LEAST(1.0,
        |      LEAST(length(text) / 200.0, 1.0) * 0.4 +
        |      CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) = 0 THEN 0.0
        |           ELSE LEAST(CAST(len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)),
        |            x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |        / len(regexp_extract_all(text, '[A-Za-z]+')) * 4.0, 1.0) END * 0.4 +
        |      (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text) END) * 0.2
        |    )) AS quality
        |  FROM documents),
        |filt AS (SELECT doc_id, text FROM scored WHERE quality >= 0.5),
        |keep AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text)),
        |kept AS (SELECT f.doc_id, f.text FROM filt f JOIN keep USING (doc_id)),
        |sp AS (
        |  SELECT text,
        |    CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM kept)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val filt = docs
        .select(col("doc_id"), col("text"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.5)
      // keep-min-per-fingerprint as a window over fp, not groupBy+join:
      // one shuffle, one scan — the join form re-ran the regexp-heavy
      // quality filter on the second scan and added a doc_id exchange
      // (measured 7.4 s -> ~4 s at 10× scale)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(TextAnalysis.md5Fingerprint(col("text")))
      filt.withColumn("__minid", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("__minid"))
        .select(Splits.assignSplit(col("doc_id")).as("split"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("split"))
    },

    // Stratified deterministic sampling: per-class hash-keep fractions
    // (balanced downsampling of over-represented classes) — no RNG, scan-
    // filterable, oracle replays the same md5 arithmetic.
    QueryDef.sql(
      "q83_stratified_sample",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT lang, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 65536 AS b
        |  FROM documents)
        |WHERE (lang = 'en' AND b < 16384) OR (lang = 'es' AND b < 32768)
        |   OR ((lang IS NULL OR lang NOT IN ('en','es')) AND b < 65536)
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(Splits.stratifiedHashSample(col("doc_id"), col("lang"),
          Map("en" -> 0.25, "es" -> 0.5)))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    },

    // Hard per-domain cap — "at most 8 docs per source" (the quota verb;
    // q83 keeps a per-class RATE, this keeps a COUNT). Selection is the
    // n smallest (md5(id), id) per group, which the oracle replays with a
    // plain windowed rank; the Spark side runs the rank-by-hash-range
    // form (bucket counts -> keep-all/drop-all decisions -> rank ONLY the
    // boundary bucket), so equality here proves the scale shape loses
    // nothing. LlmSpec additionally pins it row-identical to the naive
    // window at a skewed fixture.
    QueryDef.sql(
      "q138_domain_cap",
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 8 ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      Splits.capPerGroup(Tables.documents(s, d), "source", "doc_id", n = 8)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Reproducible global corpus shuffle (training-order verb): position =
    // rank of (md5(seed||id), id) — no RNG state, engine-portable, a new
    // seed is a fresh permutation. Distributed rank via RowIndex (range
    // shuffle + bounded offsets collect), never a one-task global window;
    // the oracle replays the rank with a plain window. Checked end-to-end:
    // every (doc_id, pos) pair hash-exact.
    QueryDef.sql(
      "q139_corpus_shuffle",
      """SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY md5('42' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Splits.shuffleDeterministic(Tables.documents(s, d), "doc_id", seed = 42L)
        .select(col("doc_id"), col("pos"))
        .orderBy(col("doc_id"))
    },

    // Near-dup clusters: connected components over exact+MinHash pairs via
    // iterative min-label propagation (distributed union-find substitute),
    // then the surviving keep-list. The MinHash banding is engine-specific
    // but DETERMINISTIC (fixed seeds), and at this fixture's near-dup
    // Jaccard (≥ 0.9; miss P ≤ 2·10⁻⁴ per pair under 8×4 banding, see q32)
    // the verified edge set equals the exact one — so the oracle replays
    // the keep-list independently: exact-Jaccard ≥ 0.8 edges ∪ md5
    // fingerprint edges, transitive closure via recursive CTE, keep min-id
    // per component. Checks the WHOLE pipeline (shingles, LSH recall,
    // verification, CC, keep rule) hash-exact.
    QueryDef.sql(
      "q57_dedup_clusters",
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [list_aggregate(ws, 'string_agg', ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS toks
        |  FROM words),
        |inv AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |sizes AS (SELECT doc_id, len(toks) AS n FROM tok),
        |jpairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM inv a JOIN inv b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near AS (
        |  SELECT id1, id2 FROM jpairs
        |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
        |fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |exact_pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
        |sym AS (
        |  SELECT id1 AS a, id2 AS b FROM near
        |  UNION SELECT id2, id1 FROM near
        |  UNION SELECT id1, id2 FROM exact_pairs
        |  UNION SELECT id2, id1 FROM exact_pairs),
        |reach AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
        |SELECT d.doc_id AS id FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |WHERE c.component IS NULL OR c.component = d.doc_id
        |ORDER BY id""".stripMargin) { (s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text", jaccardThreshold = 0.8)
        .orderBy(col("id"))
    },

    // ENGINE-PORTABLE cluster labels (the oracle-exact twin of q57):
    // exact-fingerprint edges ∪ portable hash-set-Jaccard near-dup edges,
    // closed into connected components. The oracle replays the SAME edge
    // set (q134/q135's portable machinery + the md5 fingerprint) and then
    // the transitive closure itself via a recursive CTE — so the
    // distributed label-propagation loop is checked against an
    // independent engine's fixpoint, full cluster structure and all, not
    // just the surviving keep-list.
    QueryDef.sql(
      "q137_dedup_clusters_portable", {
        val recPrefix = portableOraclePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")
        s"""$recPrefix,
           |hsets AS (
           |  SELECT doc_id, list_distinct(list(h)) AS hset FROM hv GROUP BY doc_id),
           |scored AS (
           |  SELECT id1, id2,
           |    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
           |    CAST(len(ha.hset) AS BIGINT) AS n1, CAST(len(hb.hset) AS BIGINT) AS n2
           |  FROM cand JOIN hsets ha ON ha.doc_id = id1 JOIN hsets hb ON hb.doc_id = id2),
           |near AS (
           |  SELECT id1, id2 FROM scored
           |  WHERE CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5),
           |fp AS (
           |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
           |  FROM documents),
           |exact_pairs AS (
           |  SELECT a.doc_id AS id1, b.doc_id AS id2
           |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
           |sym AS (
           |  SELECT id1 AS a, id2 AS b FROM near
           |  UNION SELECT id2, id1 FROM near
           |  UNION SELECT id1, id2 FROM exact_pairs
           |  UNION SELECT id2, id1 FROM exact_pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
           |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
           |SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS component
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           |ORDER BY id""".stripMargin
      }) { (s, d) =>
      Dedup.dedupClustersPortable(Tables.documents(s, d), "doc_id", "text",
        jaccardThreshold = 0.5)
        .orderBy(col("id"))
    },

    // TF-IDF top terms per document (tf = c/len, idf = ln(N/df)).
    QueryDef.sql(
      "q58_tfidf",
      """WITH terms AS (
        |  SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2),
        |dl AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS len FROM terms GROUP BY 1),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT id, term,
        |    ROUND((CAST(c AS DOUBLE) / len) * ln(n.n / df.df), 6) AS tfidf
        |  FROM tf JOIN dl USING (id) JOIN df USING (term) CROSS JOIN n)
        |SELECT id, term, tfidf, rk FROM (
        |  SELECT id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
        |  FROM scored) WHERE rk <= 3
        |ORDER BY id, rk""".stripMargin) { (s, d) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("id"), col("rk"))
    },

    // Sparse TF-IDF cosine pairs — the weighted-lexical leg of near-dup
    // detection (between q31's set-overlap Jaccard and q37's dense
    // embedding cosine). Inverted-index self-join: only (term, doc,
    // weight) triplets shuffle; terms in >50% of docs are pruned before
    // the join (posting-list guard), with the oracle replaying the same
    // cutoff. Weights rounded to 9 digits on both engines so the dot
    // products sum identical doubles.
    QueryDef.sql(
      "q110_tfidf_cosine",
      """WITH scope AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |t AS (SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |      FROM scope),
        |tf AS (SELECT id, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |dl AS (SELECT id, SUM(c) AS len FROM tf GROUP BY 1),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |w AS (
        |  SELECT tf.id, tf.term,
        |    ROUND((CAST(tf.c AS DOUBLE) / dl.len) * ln(300.0 / dfq.df), 9) AS w
        |  FROM tf JOIN dl ON tf.id = dl.id JOIN dfq ON tf.term = dfq.term
        |  WHERE dfq.df <= 150.0),
        |nrm AS (SELECT id, sqrt(SUM(w*w)) AS nrm FROM w GROUP BY 1),
        |p AS (SELECT a.id AS id1, b.id AS id2, SUM(a.w*b.w) AS dot
        |      FROM w a JOIN w b ON a.term = b.term AND a.id < b.id GROUP BY 1, 2)
        |SELECT p.id1, p.id2, ROUND(p.dot/(n1.nrm*n2.nrm), 6) AS cos
        |FROM p JOIN nrm n1 ON p.id1 = n1.id JOIN nrm n2 ON p.id2 = n2.id
        |WHERE ROUND(p.dot/(n1.nrm*n2.nrm), 6) >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      TextAnalysis.tfIdfCosinePairs(
          Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text", minCos = 0.8, maxDocFreq = 0.5)
        .orderBy(col("id1"), col("id2"))
    },

    // Benchmark decontamination: per-doc 5-gram overlap against a
    // benchmark set (docs with doc_id % 50 = 0 stand in for an eval
    // suite). Benchmark grams broadcast; only hits shuffle.
    QueryDef.sql(
      "q87_decontaminate",
      """WITH words AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(ws) < 5 THEN [list_aggregate(ws, 'string_agg', ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws) - 3),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |                     ws[i+3] || ' ' || ws[i+4])) END AS toks
        |  FROM words),
        |bench AS (SELECT DISTINCT unnest(toks) AS g FROM tok WHERE doc_id % 50 = 0),
        |grams AS (SELECT doc_id, unnest(toks) AS g FROM tok),
        |hits AS (
        |  SELECT grams.doc_id, CAST(COUNT(DISTINCT grams.g) AS BIGINT) AS n_matched
        |  FROM grams JOIN bench USING (g) GROUP BY grams.doc_id),
        |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_grams FROM tok)
        |SELECT s.doc_id, s.n_grams, COALESCE(h.n_matched, 0) AS n_matched,
        |  CASE WHEN s.n_grams > 0
        |       THEN CAST(COALESCE(h.n_matched, 0) AS DOUBLE) / s.n_grams
        |       ELSE 0.0 END AS contamination,
        |  COALESCE(h.n_matched, 0) > 0 AS contaminated
        |FROM sizes s LEFT JOIN hits h USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      graft.llm.Decontaminate.ngramOverlap(docs, bench, "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },

    // PII redaction: deterministic synthetic PII (email/IP per doc, card+
    // SSN+phone every 7th doc) appended identically on both engines, then
    // sequential-global redaction + per-category counts. The pattern text
    // lives in TextAnalysis.piiPatterns (Java-regex ∩ RE2 common subset)
    // and is inlined verbatim in the oracle.
    QueryDef.sql(
      "q88_pii_redaction",
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' card 4111-1111-1111-1111 ssn 123-45-6789 call 555.867.5309'
        |         ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '<CARD>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_card,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.llm.TextAnalysis
      val aug = Tables.documents(s, d).select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
        when(col("doc_id") % 7 === 0,
          lit(" card 4111-1111-1111-1111 ssn 123-45-6789 call 555.867.5309"))
          .otherwise(lit(""))).as("t"))
      aug.select(col("doc_id"),
          TextAnalysis.redactPii(col("t")).as("redacted"),
          TextAnalysis.piiCount(col("t"), "email").as("n_email"),
          TextAnalysis.piiCount(col("t"), "ip").as("n_ip"),
          TextAnalysis.piiCount(col("t"), "card").as("n_card"),
          TextAnalysis.piiCount(col("t"), "ssn").as("n_ssn"),
          TextAnalysis.piiCount(col("t"), "phone").as("n_phone"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing: concat-then-chunk placement of every document in
    // 512-token context windows, via the distributed prefix sum (ONE range
    // shuffle; no single-partition window). Oracle = SQL window cumsum.
    QueryDef.sql(
      "q89_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, cum - n_tokens AS start_off,
        |  (cum - n_tokens) // 512 AS bin,
        |  (cum - n_tokens) % 512 AS bin_off,
        |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 512
        |       ELSE (cum - n_tokens) // 512 END AS end_bin
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens"))
      graft.llm.Packing.packSequences(toks, "n_tokens", 512L, Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    },

    // Packed-bin assembly: the batch-manifest view of q89's placement —
    // per context window, the ordered document list (OrderedConcat typed
    // Aggregator over the packing prefix sum) plus doc/token counts.
    // Composes two custom operators; the whole composition is oracle-exact.
    QueryDef.sql(
      "q93_packed_bins",
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tokens) // 512 AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.udaf
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens"))
      val placed = graft.llm.Packing.packSequences(toks, "n_tokens", 512L, Seq(col("doc_id")))
      val oc = udaf(new graft.functions.OrderedConcat(","))
      placed.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          // doc_id order == (start_off, doc_id) order here (offsets are
          // nondecreasing in doc_id) and is tie-free for zero-token docs
          oc(col("doc_id"), col("doc_id").cast("string")).as("docs"))
        .orderBy(col("bin"))
    },

    // Data-mixture sampling: downsample four weighted sources to a 3000-
    // token budget (unlisted sources drop), stable-md5-bucket keeps, then
    // the per-source realized mixture. Totals broadcast; corpus scanned
    // once, never shuffled on text.
    QueryDef.sql(
      "q90_mixture_sampling",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS source_tokens
        |        FROM t GROUP BY 1),
        |r AS (SELECT source, least(1.0,
        |        (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.3
        |                     WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.2
        |                     ELSE 0.0 END) * 3000 / source_tokens) AS rate
        |      FROM tot),
        |kept AS (
        |  SELECT t.source, t.doc_id, t.n_tokens FROM t JOIN r USING (source)
        |  WHERE CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 65536
        |        < CAST(floor(rate * 65536) AS BIGINT))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
        |FROM kept GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // persist the doc-bounded count frame: sampleToMixture's rate
      // aggregate + keep pass otherwise re-tokenize the corpus 3×
      val toks = CacheRegistry.persist(Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens")))
      graft.llm.Mixing.sampleToMixture(toks, "doc_id", "n_tokens", "source",
          Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.2), 3000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
        .orderBy(col("source"))
    },

    // Temperature-flattened mixture (the mC4/XLM-R multilingual sampling
    // rule): source weight ∝ tokens^0.5 derived FROM the corpus — no
    // hand-tuned map — then the same capped-rate stable-bucket sampling
    // as q90. alpha = 0.5 at a 6000-token budget visibly boosts the
    // smallest source relative to natural sampling. The rate is
    // round(·,6)-quantized on both engines so JVM and libm pow agree on
    // the bucket threshold; weights are emitted rounded for the compare.
    QueryDef.sql(
      "q149_temperature_mixture",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS source_tokens
        |        FROM t GROUP BY 1),
        |ws AS (SELECT SUM(pow(source_tokens, 0.5)) AS wsum FROM tot),
        |r AS (SELECT source, source_tokens,
        |        pow(source_tokens, 0.5) / wsum AS weight,
        |        least(1.0, round(pow(source_tokens, 0.5) / wsum * 6000 / source_tokens, 6)) AS rate
        |      FROM tot, ws),
        |kept AS (
        |  SELECT t.source, t.doc_id, t.n_tokens FROM t JOIN r USING (source)
        |  WHERE CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 65536
        |        < CAST(floor(rate * 65536) AS BIGINT))
        |SELECT r.source, r.source_tokens, round(r.weight, 6) AS weight, r.rate,
        |  CAST(COUNT(kept.doc_id) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(kept.n_tokens), 0) AS BIGINT) AS tokens_kept
        |FROM r LEFT JOIN kept ON kept.source = r.source
        |GROUP BY r.source, r.source_tokens, r.weight, r.rate
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      // one tokenize pass (same factoring as q161): persist the doc-bounded
      // count frame, derive rates once, reuse them for the keep rule
      val toks = CacheRegistry.persist(Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens")))
      val rates = graft.llm.Mixing.temperatureRates(toks, "n_tokens", "source", 0.5, 6000L)
      val kept = graft.llm.Mixing.sampleAtRates(toks, "doc_id",
          rates.select(col("source"), col("rate")), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("source_tokens"),
          round(col("weight"), 6).as("weight"), col("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
        .orderBy(col("source"))
    },

    // Corpus-derived unigram LM quality score (CCNet-style perplexity
    // filtering with the corpus as its own model). One tokenization pass;
    // the model (term totals + scalar grand total) re-aggregates the
    // per-(doc,term) counts, so only count triplets shuffle. The oracle
    // replays the identical MLE model; round(·,6) absorbs summation-order
    // float drift, as in q58/q110. Zero-token docs emit (0, NULL).
    QueryDef.sql(
      "q150_unigram_logprob",
      """WITH terms AS (
        |  SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2),
        |model AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM tf),
        |doc AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c) AS lp
        |  FROM tf JOIN model USING (term) CROSS JOIN tot GROUP BY id)
        |SELECT d.doc_id AS id, COALESCE(doc.n_tok, 0) AS n_tok,
        |  ROUND(doc.lp, 6) AS avg_logp
        |FROM documents d LEFT JOIN doc ON doc.id = d.doc_id
        |ORDER BY id""".stripMargin) { (s, d) =>
      unigramScores(s, d).orderBy(col("id"))
    },

    // Per-source unigram KL divergence vs the corpus blend — the
    // mixture-drift diagnostic beside q149's temperature mixing: which
    // source's vocabulary sits furthest from the distribution it feeds.
    // One tokenization pass; corpus marginal and source totals both
    // re-aggregate the (source, term) counts. Output = one row/source.
    QueryDef.sql(
      "q151_source_kl",
      """WITH st AS (
        |  SELECT source, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM st GROUP BY 1, 2),
        |corpus AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1),
        |bysrc AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM c)
        |SELECT c.source, MAX(ts) AS n_tok,
        |  ROUND(SUM((CAST(c AS DOUBLE) / ts) *
        |            ln((CAST(c AS DOUBLE) / ts) / (CAST(ct AS DOUBLE) / t))), 6) AS kl
        |FROM c JOIN corpus USING (term) JOIN bysrc USING (source) CROSS JOIN tot
        |GROUP BY c.source ORDER BY c.source""".stripMargin) { (s, d) =>
      TextAnalysis.sourceTokenKL(Tables.documents(s, d), "source", "text")
        .orderBy(col("source"))
    },

    // The Gopher quality-rule bundle (published heuristic battery): per-doc
    // booleans for word-count bounds, mean-word-length band, symbol ratio,
    // alphabetic-word fraction, stop-word hits, plus the conjunctive keep —
    // auditable rule-by-rule, pure per-row column arithmetic (no shuffle).
    // Both sides filter EMPTY split tokens (a leading tab/newline survives
    // Spark's space-only trim and would otherwise give the oracle an extra
    // empty "word"), and the oracle ratios are computed in DOUBLE (not the
    // DECIMAL that `* 1.0 /` would give) so the boundary comparisons use
    // the same arithmetic as the Spark side. NULL-text documents get an
    // explicit all-false verdict via COALESCE on every rule.
    QueryDef.sql(
      "q152_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE list_filter(string_split_regex(trim(text), '\s+'), w -> length(w) > 0) END AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS n_words,
        |    CASE WHEN len(ws) = 0 THEN NULL
        |         ELSE CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS DOUBLE) / len(ws) END AS mean_len,
        |    CASE WHEN len(ws) = 0 THEN NULL
        |         ELSE CAST(length(text) - length(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) / len(ws) END AS sym_ratio,
        |    CASE WHEN len(ws) = 0 THEN NULL
        |         ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws) END AS alpha_ratio,
        |    CAST(len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)),
        |         x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT) AS stop_cnt
        |  FROM t)
        |SELECT doc_id, n_words,
        |  COALESCE(n_words BETWEEN 50 AND 100000, false) AS ok_words,
        |  COALESCE(mean_len BETWEEN 3.0 AND 10.0, false) AS ok_mean_len,
        |  COALESCE(sym_ratio <= 0.1, false) AS ok_symbol,
        |  COALESCE(alpha_ratio >= 0.8, false) AS ok_alpha,
        |  COALESCE(stop_cnt >= 2, false) AS ok_stop,
        |  COALESCE(n_words BETWEEN 50 AND 100000, false)
        |    AND COALESCE(mean_len BETWEEN 3.0 AND 10.0, false)
        |    AND COALESCE(sym_ratio <= 0.1, false)
        |    AND COALESCE(alpha_ratio >= 0.8, false)
        |    AND COALESCE(stop_cnt >= 2, false) AS kept
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // DSIR importance weights: score each doc by ln(p_target/p_corpus)
    // over 64 portable md5-hashed unigram buckets (add-0.5 smoothing),
    // with the 'src0' slice standing in for the high-quality target. The
    // oracle replays the identical hash, smoothing, and model; round(·,6)
    // absorbs summation-order drift. Zero-token docs emit (0, NULL).
    QueryDef.sql(
      "q153_dsir_weights",
      """WITH toks AS (
        |  SELECT doc_id AS id, source = 'src0' AS is_target,
        |    unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |bc AS (
        |  SELECT id, is_target,
        |    CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2, 3),
        |tgt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS tc FROM bc WHERE is_target GROUP BY 1),
        |cor AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM bc WHERE is_target),
        |ct AS (SELECT CAST(SUM(c) AS DOUBLE) AS ct FROM bc),
        |doc AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    SUM(c * ln(((COALESCE(tc, 0) + 0.5) / (tt + 32.0)) /
        |               ((cc + 0.5) / (ct + 32.0)))) / SUM(c) AS w
        |  FROM bc JOIN cor USING (bucket) LEFT JOIN tgt USING (bucket)
        |       CROSS JOIN tt CROSS JOIN ct
        |  GROUP BY id)
        |SELECT d.doc_id AS id, COALESCE(doc.n_tok, 0) AS n_tok,
        |  ROUND(doc.w, 6) AS dsir_logw
        |FROM documents d LEFT JOIN doc ON doc.id = d.doc_id
        |ORDER BY id""".stripMargin) { (s, d) =>
      graft.llm.Mixing.dsirWeights(Tables.documents(s, d), "doc_id", "text",
          col("source") === "src0", buckets = 64, alpha = 0.5)
        .orderBy(col("id"))
    },

    // Sequence-length histogram over word-token counts — the
    // max_seq_len-planning diagnostic before packing (q93): doc count,
    // token mass, and doc fraction per fixed 16-token bin. Integer bin
    // edges (DIV) bucket identically on both engines; only the tiny
    // (bin, count, mass) aggregate ever shuffles.
    QueryDef.sql(
      "q154_length_histogram",
      """WITH t AS (
        |  SELECT CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM t)
        |SELECT (n // 16) * 16 AS bin_lo,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS tokens,
        |  ROUND(COUNT(*) / total, 6) AS doc_frac
        |FROM t CROSS JOIN tot
        |GROUP BY bin_lo, total ORDER BY bin_lo""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens"))
      graft.llm.Packing.lengthHistogram(toks, "n_tokens", binWidth = 16)
        .orderBy(col("bin_lo"))
    },

    // Exact corpus heavy hitters: top-20 word terms by count. One
    // (term)-keyed shuffle with map-side combine; documents are never
    // shuffled whole. Tie-break term ASC makes the LIMIT deterministic.
    QueryDef.sql(
      "q94_heavy_hitters",
      """SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY n DESC, term LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(20)
    },

    // Audio frame sampling (STFT-shaped overlapping windows over 16-bit
    // PCM) — the time-axis sibling of q102's token chunking, over the
    // multimodal binary-column surface. Codecs aren't available here, so
    // document text stands in as the waveform bytes (ASCII ⇒ the oracle
    // can slice the string form byte-for-byte and md5 it; DuckDB has no
    // BLOB substring). Frame boundaries, timing, and content hashes are
    // all cell-exact.
    QueryDef.sql(
      "q107_audio_frames",
      """WITH t AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |s AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, length(text) - 64 + 1, 32)) AS st
        |  FROM t WHERE length(text) >= 64)
        |SELECT doc_id AS media_id, CAST(st // 32 AS BIGINT) AS frame_id,
        |  CAST(st // 16 AS BIGINT) AS start_ms,
        |  md5(substring(text, st + 1, 64)) AS frame_md5
        |FROM s ORDER BY media_id, frame_id""".stripMargin) { (s, d) =>
      val audio = Multimodal.asAudioTable(
        Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text",
        sampleRate = 8000)
      // 8 kHz × 16-bit: 4 ms frame = 64 bytes, 2 ms hop = 32 bytes
      Multimodal.frameSlices(audio, frameMs = 4, hopMs = 2)
        .select(col("media_id"), col("frame_id"), col("start_ms"),
          md5(col("frame")).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_id"))
    },

    // Video frame sampling (uniform temporal selection over raw
    // frame-major payloads) — the video leg of the multimodal surface
    // beside q41/q42 (image) and q107 (audio). Document text stands in
    // for the frame buffer (no codecs in the sandbox; ASCII ⇒ DuckDB
    // replays the byte slicing on the string form). Indices, timing and
    // content hashes are all cell-exact.
    QueryDef.sql(
      "q120_video_frames",
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |b AS (SELECT doc_id, text,
        |        length(text) // CAST(48 AS BIGINT) AS n FROM t),
        |s AS (SELECT doc_id, text, n, LEAST(CAST(4 AS BIGINT), n) AS m
        |      FROM b WHERE n > 0),
        |u AS (SELECT doc_id, text, n, m, unnest(range(0, m)) AS j FROM s)
        |SELECT doc_id AS media_id, CAST(j AS BIGINT) AS sample_id,
        |  CAST((j * n) // m AS BIGINT) AS frame_idx,
        |  CAST(((j * n) // m) * CAST(100 AS BIGINT) AS BIGINT) AS t_ms,
        |  md5(substring(text, CAST((j * n) // m * 48 + 1 AS INT), 48)) AS frame_md5
        |FROM u ORDER BY media_id, sample_id""".stripMargin) { (s, d) =>
      val video = Multimodal.asVideoTable(
        Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text",
        fps = 10, frameBytes = 48)
      Multimodal.sampleFrames(video, k = 4)
        .select(col("media_id"), col("sample_id"), col("frame_idx"),
          col("t_ms"), md5(col("frame")).as("frame_md5"))
        .orderBy(col("media_id"), col("sample_id"))
    },

    // Chunk-level dedup pipeline — composition of q102's chunking with
    // exact dedup: overlapping/boilerplate chunks collapse to one
    // canonical copy corpus-wide (the span-dedup shape C4 applies at
    // line level), then per-doc survival counts. Whole composition
    // oracle-exact; shuffles move 16-byte fingerprints + a packed
    // (doc,chunk) key, never chunk text.
    QueryDef.sql(
      "q105_chunk_dedup",
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws
        |  FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |s AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, CASE WHEN n <= 24 THEN 1 ELSE ((n-1)//16)*16 + 1 END, 16)) AS st
        |  FROM b),
        |chunks AS (
        |  SELECT doc_id, st // 16 AS chunk_id,
        |    array_to_string(ws[st+1:st+24], ' ') AS chunk_text
        |  FROM s),
        |keep AS (
        |  SELECT md5(chunk_text) AS fp, MIN(doc_id * 1000000000 + chunk_id) AS keep_key
        |  FROM chunks GROUP BY fp)
        |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN c.doc_id * 1000000000 + c.chunk_id = k.keep_key
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM chunks c JOIN keep k ON md5(c.chunk_text) = k.fp
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      // key packs (doc_id, chunk_id) into one BIGINT for a single-column
      // MIN on both engines; the 1e9 multiplier holds for any document
      // under ~16e9 tokens (chunk_id < 1e9 at stride 16) — far past real
      // corpora. Persist: keep and the probe side both consume the
      // tokenize+chunk+md5 pipeline, which would otherwise run twice.
      val chunks = CacheRegistry.persist(Chunking.chunkByTokens(
        Tables.documents(s, d).filter(col("doc_id") < 200),
        "doc_id", "text", size = 24, stride = 16)
        .withColumn("fp", md5(col("chunk_text").cast("binary")))
        .withColumn("key", col("doc_id") * 1000000000L + col("chunk_id")))
      val keep = chunks.groupBy(col("fp")).agg(min(col("key")).as("keep_key"))
      chunks.join(keep, "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("key") === col("keep_key"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // Fuzzy (edit-distance) pairs over supplier names via FastSS
    // deletion-neighborhood blocking (supplier names are uniform-length,
    // where the length band degenerates to all-pairs) + thresholded
    // levenshtein verify; the oracle is the brute-force O(n²) join, so
    // equality proves the blocking misses nothing.
    QueryDef.sql(
      "q104_fuzzy_pairs",
      """SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
        |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Dedup.fuzzyPairsFastSS(Tables.supplier(s, d), "s_suppkey", "s_name", maxDist = 1)
        .orderBy(col("id1"), col("id2"))
    },

    // Overlapping token-window chunking (context-window prep; the slicing
    // sibling of q89's packing). Pure flat-map — tokens materialized once,
    // sequence()+slice codegen, no shuffle; the oracle replays the same
    // window arithmetic with list_slice.
    QueryDef.sql(
      "q102_doc_chunking",
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws
        |  FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |s AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, CASE WHEN n <= 24 THEN 1 ELSE ((n-1)//16)*16 + 1 END, 16)) AS st
        |  FROM b)
        |SELECT doc_id, CAST(st // 16 AS BIGINT) AS chunk_id,
        |  array_to_string(ws[st+1:st+24], ' ') AS chunk_text,
        |  CAST(len(ws[st+1:st+24]) AS BIGINT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Chunking.chunkByTokens(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", "text", size = 24, stride = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Approximate heavy hitters via the Misra-Gries FrequentItems
    // Aggregator: bounded ≤2k-entry state per task, shuffle carries ≤2k
    // entries per partition — the shape that survives unbounded
    // vocabularies (URLs, n-grams) where the exact form's per-distinct-term
    // shuffle does not. Estimated counts are merge-order dependent, but the
    // MG GUARANTEE is order-free: every term with true count > N/(k+1)
    // survives, and est ≤ true ≤ est + N/(k+1). The GATE row lists exactly
    // those guaranteed-heavy terms with their EXACT counts (oracle-
    // replayable) plus two booleans the oracle expects literal-true — a
    // broken summary or merge flips one. ScaleSpec keeps the adversarial
    // merge-tree variant.
    QueryDef.sql(
      "q95_heavy_hitters_approx",
      """WITH t AS (
        |  SELECT unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS total FROM c)
        |SELECT term, exact_count, true AS found_by_mg, true AS bound_ok
        |FROM c, tot WHERE exact_count > total // 33 + 1
        |ORDER BY exact_count DESC, term""".stripMargin) { (s, d) =>
      val fi = udaf(new graft.functions.FrequentItems(32))
      val terms = Tables.documents(s, d)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("term"))
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
      val est = terms.agg(fi(col("term")).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e._1").as("term"), col("e._2").as("est_count"))
      val tot = exact.agg(sum(col("exact_count")).as("total"))
      exact.crossJoin(tot)                          // 1-row bound frame
        .withColumn("bound", expr("total DIV 33") + lit(1))
        .filter(col("exact_count") > col("bound"))
        .join(est, Seq("term"), "left")
        .select(col("term"), col("exact_count"),
          col("est_count").isNotNull.as("found_by_mg"),
          (col("est_count").isNotNull && col("est_count") <= col("exact_count") &&
            col("exact_count") - col("est_count") <= col("bound")).as("bound_ok"))
        .orderBy(col("exact_count").desc, col("term"))
    },

    // Exact-substring dedup at ARBITRARY alignment (suffix-array family):
    // maximal cross-document verbatim spans ≥ k tokens, found as runs of
    // consecutive positions whose k-gram occurs in ≥ 2 distinct documents.
    // The oracle replays the fingerprint + gaps-and-islands span-merge
    // rule on md5-of-gram-string keys; the Spark side hashes in-kernel
    // (FNV-1a 64, 8-byte shuffle rows — the 100 TB width) — identical dup
    // sets, since both keys are injective on the fixture's gram universe
    // and only the SPANS are compared. "≥ 2 docs" is MIN(doc)≠MAX(doc) on
    // both engines: two algebraic aggregates, no count-distinct expansion.
    QueryDef.sql(
      "q155_duplicate_spans",
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(range(0, len(ws) - 8 + 1)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |grams AS (
        |  SELECT doc_id, pos, md5(array_to_string(ws[pos+1:pos+8], ' ')) AS fp FROM g),
        |dup AS (SELECT fp FROM grams GROUP BY fp HAVING MIN(doc_id) <> MAX(doc_id)),
        |d AS (SELECT doc_id, pos FROM grams JOIN dup USING (fp)),
        |runs AS (SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM d)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
        |FROM runs GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      Substrings.duplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // Deterministic FULL-BYTE BPE ENCODE identity, per distinct corpus
    // pre-token (letters, digits, whitespace runs, punctuation — the
    // total byte-run partition): subword split, count, and vocabulary
    // ids. The oracle carries the frozen merge table, the 256-entry
    // byte→printable map, and the vocabulary as literal VALUES, recovers
    // each pre-token's initial symbols byte-by-byte from hex(encode(w)),
    // and replays encode as a recursive rank-ordered left-fold
    // (list_reduce) — the merge loop itself, re-run cell-for-cell by the
    // second engine. The Spark side is the fused BpeEncode kernel (merge
    // table as a codegen reference object). Distinct pre-tokens, not
    // instances: encode is a pure pre-token function, so the vocabulary
    // IS its full domain here.
    QueryDef.sql(
      "q156_bpe_encode",
      s"""WITH RECURSIVE
         |$bpeOraclePrefix,
         |vocab(tok, id) AS (VALUES $bpeVocabValues),
         |fin AS (SELECT w, list_transform(syms, s -> s[1]) AS toks FROM enc WHERE r = $bpeNumMerges),
         |u AS (SELECT w, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i FROM fin)
         |SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sub,
         |  string_agg(u.tok, '|' ORDER BY u.i) AS toks,
         |  string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY u.i) AS ids
         |FROM u JOIN vocab v ON u.tok = v.tok
         |GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(graft.llm.Bpe.preTokens(col("text"))).as("w")).distinct()
        .select(col("w"), graft.llm.Bpe.encode(col("w")).as("tk"))
        .select(col("w"), size(col("tk")).cast("long").as("n_sub"),
          array_join(col("tk"), "|").as("toks"),
          array_join(transform(graft.llm.Bpe.tokenIds(col("tk")),
            i => i.cast("string")), ",").as("ids"))
        .orderBy(col("w"))
    },

    // q89's sequence packing re-priced in REAL subword tokens: the same
    // greedy running-total placement, but n_tokens = the frozen-BPE count
    // (BpeCount kernel — one byte pass per doc, pricing EVERY byte:
    // words, digits, punctuation, whitespace, non-Latin). The oracle
    // re-derives each document's count from the per-PRE-TOKEN encode
    // replay (multiplicity preserved via the instance join; empty-text
    // docs keep count 0 through the LEFT join) and then replays the q89
    // prefix-sum placement on those counts.
    QueryDef.sql(
      "q157_bpe_packing",
      s"""WITH RECURSIVE
         |$bpeOraclePrefix,
         |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc WHERE r = $bpeNumMerges),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(text, '$bpePreTokRe')) AS w FROM documents),
         |sums AS (SELECT doc_id, SUM(n_sub) AS s FROM dw JOIN wl USING (w) GROUP BY doc_id),
         |t AS (SELECT d.doc_id, CAST(COALESCE(s.s, 0) AS BIGINT) AS n_tokens
         |      FROM documents d LEFT JOIN sums s USING (doc_id)),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, n_tokens, cum - n_tokens AS start_off,
         |  (cum - n_tokens) // 512 AS bin,
         |  (cum - n_tokens) % 512 AS bin_off,
         |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 512
         |       ELSE (cum - n_tokens) // 512 END AS end_bin
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"),
        graft.llm.Bpe.countTokens(col("text")).as("n_tokens"))
      graft.llm.Packing.packSequences(toks, "n_tokens", 512L, Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    },

    // STREAMING unigram-drift monitor (the operational leg of q151): the
    // corpus streamed as two deterministic micro-batches; each batch
    // merges its (source, term) count triplets into persistent state and
    // emits the per-source KL vs the CUMULATIVE blend. The oracle replays
    // BOTH snapshots from scratch — batch 0 over the even-doc_id half,
    // batch 1 over the full corpus (so the final streamed state provably
    // equals the batch q151 answer, the q136 proof pattern) — pinning
    // the incremental count-merge path cell-for-cell.
    QueryDef.sql(
      "q158_stream_source_kl", {
        def kl(sfx: String, batchId: Int, where: String) =
          s"""st$sfx AS (
             |  SELECT source, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
             |  FROM documents $where),
             |c$sfx AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM st$sfx GROUP BY 1, 2),
             |corpus$sfx AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM c$sfx GROUP BY 1),
             |bysrc$sfx AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts FROM c$sfx GROUP BY 1),
             |tot$sfx AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM c$sfx),
             |k$sfx AS (
             |  SELECT CAST($batchId AS BIGINT) AS batch_id, c$sfx.source, MAX(ts) AS n_tok,
             |    ROUND(SUM((CAST(c AS DOUBLE) / ts) *
             |              ln((CAST(c AS DOUBLE) / ts) / (CAST(ct AS DOUBLE) / t))), 6) AS kl
             |  FROM c$sfx JOIN corpus$sfx USING (term) JOIN bysrc$sfx USING (source) CROSS JOIN tot$sfx
             |  GROUP BY c$sfx.source)""".stripMargin
        s"""WITH
           |${kl("0", 0, "WHERE doc_id % 2 = 0")},
           |${kl("1", 1, "")}
           |SELECT * FROM k0 UNION ALL SELECT * FROM k1
           |ORDER BY batch_id, source""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val staged = stageModSplits(corpus, d, "q158", 2)
      val base = java.nio.file.Files.createTempDirectory("graft_q158_").toString
      rotateRunDirs("q158", Seq(base))
      TextAnalysis.unigramDriftStreaming(s, staged, corpus.schema, "source", "text",
          base + "/state", base + "/out", compactEvery = 1)
        .select(col("batch_id").cast("long").as("batch_id"), col("source"),
          col("n_tok"), col("kl"))
        .orderBy(col("batch_id"), col("source"))
    },

    // The APPLY step of suffix-array dedup (q155's find step made
    // operational): rewrite every document with cross-document duplicate
    // text removed under the keep-first-owner rule — each duplicated
    // k-gram's owner is the smallest doc_id containing it; tokens covered
    // by a gram owned elsewhere are cut, the owner keeps its copy. The
    // oracle replays fingerprints, ownership, token coverage and the
    // rebuild — clean_text is compared verbatim, so the whole remove
    // pipeline is pinned cell-for-cell, including fully-emptied docs.
    QueryDef.sql(
      "q159_remove_dup_spans",
      """WITH t AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(ws) - 8 + 1)) AS pos, ws FROM t WHERE len(ws) >= 8),
        |grams AS (SELECT doc_id, pos, md5(array_to_string(ws[pos+1:pos+8], ' ')) AS fp FROM g),
        |owners AS (SELECT fp, MIN(doc_id) AS owner FROM grams GROUP BY fp HAVING MIN(doc_id) <> MAX(doc_id)),
        |losing AS (SELECT g.doc_id, g.pos FROM grams g JOIN owners o USING (fp) WHERE g.doc_id <> o.owner),
        |covered AS (SELECT DISTINCT doc_id, pos + u.u AS tt FROM losing, (SELECT unnest(range(0, 8)) AS u) u),
        |toks AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) - 1 AS tt FROM t),
        |keptrows AS (
        |  SELECT k.doc_id, k.tt, k.tok FROM toks k
        |  LEFT JOIN covered c ON c.doc_id = k.doc_id AND c.tt = k.tt
        |  WHERE c.doc_id IS NULL),
        |kept AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY tt) AS clean_text
        |  FROM keptrows GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  CAST(COALESCE(len(t.ws), 0) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d JOIN t USING (doc_id) LEFT JOIN kept k ON k.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Substrings.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },

    // ViT-style 2-D tile grid on REAL decoded pixels (the 2-D sibling of
    // q42's byte slices): synthetic PNG → ImageIO decode → non-overlapping
    // 4×3 tiles with ragged edges kept at their true clamped dimensions,
    // per-tile mean/min/max gray. The oracle enumerates the tile grid and
    // replays every tile's pixel statistics from the closed-form formula —
    // so decode + 2-D indexing + clamping are all pinned per tile.
    QueryDef.sql(
      "q160_image_tiles",
      """WITH b AS (
        |  SELECT doc_id AS media_id, CAST(8 + doc_id % 5 AS INT) AS w0,
        |    CAST(6 + doc_id % 4 AS INT) AS h0
        |  FROM documents),
        |tiles AS (
        |  SELECT media_id, w0, h0, CAST(tx.x AS INT) AS tile_x, CAST(ty.y AS INT) AS tile_y
        |  FROM b, (SELECT unnest(range(0, 3)) AS x) tx, (SELECT unnest(range(0, 3)) AS y) ty
        |  WHERE tx.x * 4 < w0 AND ty.y * 3 < h0),
        |t2 AS (
        |  SELECT media_id, tile_x, tile_y,
        |    CAST(LEAST(4, w0 - tile_x*4) AS INT) AS tw,
        |    CAST(LEAST(3, h0 - tile_y*3) AS INT) AS th
        |  FROM tiles),
        |p AS (
        |  SELECT media_id, tile_x, tile_y, tw, th,
        |    list_transform(range(0, tw*th), i ->
        |      (media_id*31 + (tile_x*4 + i % tw)*7 + (tile_y*3 + i // tw)*13) % 256) AS px
        |  FROM t2)
        |SELECT media_id, tile_x, tile_y, tw, th,
        |  ROUND(CAST(list_sum(px) AS DOUBLE) / (tw*th), 4) AS mean_gray,
        |  CAST(list_min(px) AS INT) AS min_gray, CAST(list_max(px) AS INT) AS max_gray
        |FROM p ORDER BY media_id, tile_y, tile_x""".stripMargin) { (s, d) =>
      val media = Multimodal.syntheticImageTable(s, Tables.documents(s, d), "doc_id")
      Multimodal.imageTiles(s, media, tileW = 4, tileH = 3)
        .select(col("media_id"), col("tile_x"), col("tile_y"), col("tw"), col("th"),
          round(col("mean_gray"), 4).as("mean_gray"), col("min_gray"), col("max_gray"))
        .orderBy(col("media_id"), col("tile_y"), col("tile_x"))
    },

    // q149's temperature-flattened mixture re-priced in REAL subword
    // tokens (the mixing leg of the BPE wiring, beside q157's packing
    // leg): per-source token mass, α-flattened weights, capped rates and
    // the stable-bucket keep decisions all derive from frozen full-byte
    // BPE counts. The oracle re-derives every document's count from the
    // per-pre-token merge-loop replay, then replays the identical
    // mixture math.
    QueryDef.sql(
      "q161_bpe_temperature_mixture",
      s"""WITH RECURSIVE
         |$bpeOraclePrefix,
         |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc WHERE r = $bpeNumMerges),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(text, '$bpePreTokRe')) AS w FROM documents),
         |sums AS (SELECT doc_id, SUM(n_sub) AS s FROM dw JOIN wl USING (w) GROUP BY doc_id),
         |t AS (SELECT d.doc_id, d.source, CAST(COALESCE(s.s, 0) AS BIGINT) AS n_tokens
         |      FROM documents d LEFT JOIN sums s USING (doc_id)),
         |tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS source_tokens
         |        FROM t GROUP BY 1),
         |ws AS (SELECT SUM(pow(source_tokens, 0.5)) AS wsum FROM tot),
         |r AS (SELECT source, source_tokens,
         |        pow(source_tokens, 0.5) / wsum AS weight,
         |        least(1.0, round(pow(source_tokens, 0.5) / wsum * 15000 / source_tokens, 6)) AS rate
         |      FROM tot, ws),
         |kept AS (
         |  SELECT t.source, t.doc_id, t.n_tokens FROM t JOIN r USING (source)
         |  WHERE CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 65536
         |        < CAST(floor(rate * 65536) AS BIGINT))
         |SELECT r.source, r.source_tokens, round(r.weight, 6) AS weight, r.rate,
         |  CAST(COUNT(kept.doc_id) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(SUM(kept.n_tokens), 0) AS BIGINT) AS tokens_kept
         |FROM r LEFT JOIN kept ON kept.source = r.source
         |GROUP BY r.source, r.source_tokens, r.weight, r.rate
         |ORDER BY r.source""".stripMargin) { (s, d) =>
      // one BPE pass: the (doc, source, n_tokens) frame is doc-bounded and
      // narrow — persist it and derive rates ONCE (the unfactored
      // temperatureRates + sampleToTemperature pair re-priced the corpus
      // through the BPE kernel 5× — measured in the formatted plan, r16)
      val toks = CacheRegistry.persist(Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        graft.llm.Bpe.countTokens(col("text")).as("n_tokens")))
      val rates = graft.llm.Mixing.temperatureRates(toks, "n_tokens", "source", 0.5, 15000L)
      val kept = graft.llm.Mixing.sampleAtRates(toks, "doc_id",
          rates.select(col("source"), col("rate")), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("source_tokens"),
          round(col("weight"), 6).as("weight"), col("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
        .orderBy(col("source"))
    },

    // q102's document chunking on the REAL subword stream (the chunking
    // leg of the BPE wiring, closing the packing/chunking/mixing triple):
    // context windows of 24 subword tokens at stride 16, cut from each
    // document's ordered full-byte BPE token sequence. The oracle
    // rebuilds that sequence — per-pre-token merge-loop replay, flattened
    // in (pre-token, subword) order — and replays the window arithmetic;
    // chunk_text is compared verbatim, so tokenization order and window
    // cuts are both pinned.
    QueryDef.sql(
      "q162_bpe_chunking",
      s"""WITH RECURSIVE
         |$bpeOraclePrefix,
         |fin AS (SELECT w, list_transform(syms, s -> s[1]) AS toks FROM enc WHERE r = $bpeNumMerges),
         |dw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$bpePreTokRe')) AS w,
         |    generate_subscripts(regexp_extract_all(text, '$bpePreTokRe'), 1) AS wpos
         |  FROM documents),
         |flat AS (
         |  SELECT dw.doc_id, dw.wpos, unnest(fin.toks) AS tok, generate_subscripts(fin.toks, 1) AS spos
         |  FROM dw JOIN fin USING (w)),
         |arr0 AS (SELECT doc_id, list(tok ORDER BY wpos, spos) AS ws FROM flat GROUP BY doc_id),
         |t AS (SELECT d.doc_id, COALESCE(a.ws, CAST([] AS VARCHAR[])) AS ws
         |      FROM documents d LEFT JOIN arr0 a USING (doc_id)),
         |b AS (SELECT doc_id, ws, len(ws) AS n FROM t),
         |s AS (
         |  SELECT doc_id, ws,
         |    unnest(range(0, CASE WHEN n <= 24 THEN 1 ELSE ((n-1)//16)*16 + 1 END, 16)) AS st
         |  FROM b)
         |SELECT doc_id, CAST(st // 16 AS BIGINT) AS chunk_id,
         |  array_to_string(ws[st+1:st+24], ' ') AS chunk_text,
         |  CAST(len(ws[st+1:st+24]) AS BIGINT) AS n_tokens
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Chunking.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
          size = 24, stride = 16, tokenize = graft.llm.Bpe.encode(_))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Quality-quantile selection (q150 composed with the exact-percentile
    // machinery): keep documents at or above the corpus' p40 unigram-LM
    // score — the CCNet "train on the top slice by LM quality" policy.
    // Both engines compute the cutoff over the ROUNDED scores with
    // interpolated (quantile_cont) semantics on identical inputs, so the
    // kept boolean is deterministic; zero-token docs are explicit false.
    QueryDef.sql(
      "q163_quality_select",
      """WITH terms AS (
        |  SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2),
        |model AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM tf),
        |doc AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c) AS lp
        |  FROM tf JOIN model USING (term) CROSS JOIN tot GROUP BY id),
        |scored AS (
        |  SELECT d.doc_id AS id, COALESCE(doc.n_tok, 0) AS n_tok, ROUND(doc.lp, 6) AS avg_logp
        |  FROM documents d LEFT JOIN doc ON doc.id = d.doc_id),
        |cut AS (SELECT quantile_cont(avg_logp, 0.4) AS cutoff FROM scored WHERE avg_logp IS NOT NULL)
        |SELECT id, n_tok, avg_logp, COALESCE(avg_logp >= cutoff, false) AS kept
        |FROM scored CROSS JOIN cut ORDER BY id""".stripMargin) { (s, d) =>
      // the scored table is the q150 shared frame — the corpus re-score
      // this row used to pay (2.58 s, round-9 audit) is now one pass
      TextAnalysis.selectByQuantileFromScores(unigramScores(s, d), 0.4)
        .orderBy(col("id"))
    },

    // Near-duplicate decontamination (q87's fuzzy companion): per training
    // doc, the max 3-gram-Jaccard against ANY benchmark doc (doc_id % 50 =
    // 0 stands in for the eval suite) with argmax bench id and a 0.5
    // verdict. Blocking is LOSSLESS (a Jaccard>0 pair shares a shingle),
    // so a plain SQL replay of the inverted-index join is exact; the
    // int/int Jaccard quotient is bit-identical across engines, making
    // the (j DESC, bench_id) argmax deterministic without rounding. Both
    // sides reuse the q31/q32 shared shingle pass.
    QueryDef.sql(
      "q164_fuzzy_decontaminate",
      """WITH words AS (
        |  SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(ws) < 3 THEN [list_aggregate(ws, 'string_agg', ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS toks
        |  FROM words),
        |binv AS (SELECT doc_id AS bench_id, unnest(toks) AS g FROM tok WHERE doc_id % 50 = 0),
        |bsz AS (SELECT doc_id AS bench_id, CAST(len(toks) AS BIGINT) AS nb FROM tok WHERE doc_id % 50 = 0),
        |tg AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_grams, unnest(toks) AS g FROM tok),
        |hits AS (SELECT doc_id, n_grams, bench_id, CAST(COUNT(*) AS BIGINT) AS inter
        |         FROM tg JOIN binv USING (g) GROUP BY 1, 2, 3),
        |scored AS (SELECT doc_id, bench_id,
        |             CAST(inter AS DOUBLE) / (n_grams + nb - inter) AS j
        |           FROM hits JOIN bsz USING (bench_id)),
        |best AS (SELECT doc_id, bench_id, j,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, bench_id) AS rn
        |         FROM scored)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_grams, b.bench_id AS best_bench,
        |  COALESCE(b.j, 0.0) AS max_jaccard, COALESCE(b.j >= 0.5, false) AS contaminated
        |FROM tok t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val tok = shingleTok(s, d)
      graft.llm.Decontaminate.fuzzyOverlapFromToks(
          tok, tok.filter(col("id") % 50 === 0), threshold = 0.5)
        .orderBy(col("doc_id"))
    },

    // TRAINED language-ID: a count-based multinomial Naive Bayes over
    // hashed word-unigram buckets (the fastText-style hashed linear
    // classifier reduced to its deterministic core), trained distributed
    // on a deterministic 4-language labeled corpus (language marker words
    // appended by doc_id % 4 — same synthetic-augmentation idiom as
    // q88's PII) with doc_id % 5 = 0 HELD OUT, then scoring every doc.
    // The oracle retrains the model cell-for-cell — counts, smoothed
    // round-9 log-weights, round-9 log-priors — and replays scoring,
    // round-6 scores, argmax (label-asc tie-break) and the runner-up label
    // (the float margin is spec-level: a difference of rounded sums is
    // engine-noise-exposed at the 6th decimal).
    QueryDef.sql(
      "q165_nb_langid",
      """WITH lang(lid, lang, marker) AS (VALUES
        |  (0, 'en', ' the and of house water friend'),
        |  (1, 'es', ' el la casa agua amigo que'),
        |  (2, 'de', ' der und das haus wasser freund'),
        |  (3, 'fr', ' le et la maison eau ami')),
        |aug AS (SELECT d.doc_id, l.lang, d.text || l.marker AS t
        |        FROM documents d JOIN lang l ON d.doc_id % 4 = l.lid),
        |train AS (SELECT * FROM aug WHERE doc_id % 5 <> 0),
        |ttok AS (SELECT lang AS label,
        |           unnest(list_transform(regexp_extract_all(t, '[A-Za-z]+'), x -> lower(x))) AS term
        |         FROM train),
        |tcnt AS (SELECT label,
        |           CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
        |           CAST(COUNT(*) AS BIGINT) AS c
        |         FROM ttok GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM tcnt GROUP BY 1),
        |docs AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS nd FROM train GROUP BY 1),
        |ndt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndt FROM train),
        |grid AS (SELECT d.label, b.bucket, COALESCE(t.n, 0) AS n, d.nd
        |         FROM docs d LEFT JOIN tot t USING (label)
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b),
        |wts AS (SELECT g.label, CAST(g.bucket AS BIGINT) AS bucket,
        |          CAST(ROUND(ln((COALESCE(c.c, 0) + 0.5) / (g.n + 0.5 * 64)) * 1e9, 0) AS BIGINT) AS w_u,
        |          CAST(ROUND(ln(g.nd / ndt.ndt) * 1e9, 0) AS BIGINT) AS prior_u
        |        FROM grid g LEFT JOIN tcnt c ON c.label = g.label AND c.bucket = g.bucket
        |        CROSS JOIN ndt),
        |dtok AS (SELECT doc_id,
        |           unnest(list_transform(regexp_extract_all(t, '[A-Za-z]+'), x -> lower(x))) AS term
        |         FROM aug),
        |db AS (SELECT doc_id,
        |         CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |       FROM dtok GROUP BY 1, 2),
        |sc AS (SELECT db.doc_id, w.label, CAST(SUM(db.c) AS BIGINT) AS n_tok,
        |         CAST(MAX(w.prior_u) + SUM(db.c * w.w_u) AS BIGINT) AS score_u
        |       FROM db JOIN wts w USING (bucket) GROUP BY 1, 2),
        |rk AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rn,
        |         LEAD(label) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS ru,
        |         LEAD(score_u) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rus
        |       FROM sc)
        |SELECT a.doc_id, a.lang AS true_lang, COALESCE(r.n_tok, 0) AS n_tok,
        |  r.label AS predicted, r.score_u, r.ru AS runner_up,
        |  r.score_u - r.rus AS margin_u,
        |  COALESCE(r.label = a.lang, false) AS correct
        |FROM aug a LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val markers = Map(0 -> ("en", " the and of house water friend"),
        1 -> ("es", " el la casa agua amigo que"),
        2 -> ("de", " der und das haus wasser freund"),
        3 -> ("fr", " le et la maison eau ami"))
      val lang = markers.foldLeft(when(lit(false), lit(""))) { case (acc, (k, (l, _))) =>
        acc.when(pmod(col("doc_id"), lit(4)) === k, lit(l)) }
      val marker = markers.foldLeft(when(lit(false), lit(""))) { case (acc, (k, (_, m))) =>
        acc.when(pmod(col("doc_id"), lit(4)) === k, lit(m)) }
      val aug = Tables.documents(s, d)
        .select(col("doc_id"), lang.as("lang"), concat(col("text"), marker).as("t"))
      val model = graft.llm.Classify.nbTrain(
        aug.filter(pmod(col("doc_id"), lit(5)) =!= 0), "lang", "t",
        buckets = 64, alpha = 0.5)
      graft.llm.Classify.nbClassify(aug, "doc_id", "t", model, buckets = 64)
        .join(aug.select(col("doc_id").as("id"), col("lang").as("true_lang")), Seq("id"))
        .select(col("id").as("doc_id"), col("true_lang"), col("n_tok"),
          col("predicted"), col("score_u"), col("runner_up"), col("margin_u"),
          coalesce(col("predicted") === col("true_lang"), lit(false)).as("correct"))
        .orderBy(col("doc_id"))
    },

    // Model-based QUALITY classifier (the CCNet/GPT-3
    // "looks-like-reference-corpus" filter): the same NB machinery with a
    // binary head — sources src0-src3 stand in for the curated reference
    // slice, everything else for raw crawl; trained on doc_id % 3 <> 0,
    // scored over every document with the kept verdict = classified as
    // reference. Reference-register vocabulary is planted on only HALF
    // the reference docs (doc_id % 2 = 0), so the learned head must beat
    // the 4:1 'other' prior where the signal exists and fall back to it
    // where it doesn't — a nontrivial, deterministically-replayable
    // prediction mix (an argmax stuck on the prior-max label fails the
    // hash). Complements the rule-based (q152), perplexity (q150, q163)
    // and trained-langid (q165) quality legs.
    QueryDef.sql(
      "q166_nb_quality",
      """WITH lab AS (SELECT doc_id,
        |    text || CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
        |                      AND doc_id % 2 = 0
        |                 THEN ' encyclopedia citation reference archive curated'
        |                 ELSE '' END AS text,
        |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
        |         THEN 'ref' ELSE 'other' END AS label
        |  FROM documents),
        |train AS (SELECT * FROM lab WHERE doc_id % 3 <> 0),
        |ttok AS (SELECT label,
        |           unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |         FROM train),
        |tcnt AS (SELECT label,
        |           CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 128 AS bucket,
        |           CAST(COUNT(*) AS BIGINT) AS c
        |         FROM ttok GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM tcnt GROUP BY 1),
        |docs AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nd FROM train GROUP BY 1),
        |ndt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndt FROM train),
        |grid AS (SELECT d.label, b.bucket, COALESCE(t.n, 0) AS n, d.nd
        |         FROM docs d LEFT JOIN tot t USING (label)
        |         CROSS JOIN (SELECT unnest(range(0, 128)) AS bucket) b),
        |wts AS (SELECT g.label, CAST(g.bucket AS BIGINT) AS bucket,
        |          CAST(ROUND(ln((COALESCE(c.c, 0) + 0.5) / (g.n + 0.5 * 128)) * 1e9, 0) AS BIGINT) AS w_u,
        |          CAST(ROUND(ln(g.nd / ndt.ndt) * 1e9, 0) AS BIGINT) AS prior_u
        |        FROM grid g LEFT JOIN tcnt c ON c.label = g.label AND c.bucket = g.bucket
        |        CROSS JOIN ndt),
        |dtok AS (SELECT doc_id,
        |           unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |         FROM lab),
        |db AS (SELECT doc_id,
        |         CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 128 AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |       FROM dtok GROUP BY 1, 2),
        |sc AS (SELECT db.doc_id, w.label, CAST(SUM(db.c) AS BIGINT) AS n_tok,
        |         CAST(MAX(w.prior_u) + SUM(db.c * w.w_u) AS BIGINT) AS score_u
        |       FROM db JOIN wts w USING (bucket) GROUP BY 1, 2),
        |rk AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rn,
        |         LEAD(label) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS ru,
        |         LEAD(score_u) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rus
        |       FROM sc)
        |SELECT l.doc_id, COALESCE(r.n_tok, 0) AS n_tok, r.label AS predicted,
        |  r.score_u, r.ru AS runner_up, r.score_u - r.rus AS margin_u,
        |  COALESCE(r.label = 'ref', false) AS kept
        |FROM lab l LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      val isRef = col("source").isin("src0", "src1", "src2", "src3")
      val lab = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(isRef && pmod(col("doc_id"), lit(2)) === 0,
            lit(" encyclopedia citation reference archive curated"))
            .otherwise(lit(""))).as("text"),
        when(isRef, lit("ref")).otherwise(lit("other")).as("label"))
      val model = graft.llm.Classify.nbTrain(
        lab.filter(pmod(col("doc_id"), lit(3)) =!= 0), "label", "text",
        buckets = 128, alpha = 0.5)
      graft.llm.Classify.nbClassify(lab, "doc_id", "text", model, buckets = 128)
        .select(col("id").as("doc_id"), col("n_tok"), col("predicted"),
          col("score_u"), col("runner_up"), col("margin_u"),
          coalesce(col("predicted") === lit("ref"), lit(false)).as("kept"))
        .orderBy(col("doc_id"))
    },

    // Crawl-layer URL normalization + registrable-domain extraction: a
    // deterministic messy-URL generator (case chaos, default and explicit
    // ports, trailing slashes, unsorted/empty query params, fragments,
    // multi-label public suffixes, suffix-hosted user domains, dotless
    // intranet hosts) is built identically on both engines, then both
    // replay the same normalization chain (regexes in the Java∩RE2
    // subset, parameter sort, default-port drop) and the same
    // longest-match public-suffix decision chain — generated as SQL from
    // the ONE frozen list (Urls.registrableDomainSqlCase), so there is no
    // second matching order to drift.
    QueryDef.sql(
      "q167_url_normalize", {
        val urlGen = urlGenSql
        s"""WITH u AS (SELECT doc_id, $urlGen AS url FROM documents),
           |p AS (SELECT doc_id, url,
           |    regexp_replace(url, '#.*', '') AS nf FROM u),
           |p2 AS (SELECT doc_id, url,
           |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p),
           |p3 AS (SELECT doc_id, url, scheme,
           |    regexp_extract(rest, '^([^/?]*)', 1) AS hp,
           |    regexp_replace(rest, '^[^/?]*', '') AS pq FROM p2),
           |p4 AS (SELECT doc_id, url, scheme, pq,
           |    lower(regexp_replace(hp, ':[0-9]+$$', '')) AS host,
           |    regexp_extract(hp, ':([0-9]+)$$', 1) AS port FROM p3),
           |p5 AS (SELECT doc_id, url, scheme, host,
           |    CASE WHEN port = '' THEN ''
           |         WHEN scheme = 'http' AND port = '80' THEN ''
           |         WHEN scheme = 'https' AND port = '443' THEN ''
           |         ELSE ':' || port END AS portn,
           |    regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/+$$', '') AS path,
           |    list_sort(list_filter(string_split(
           |      regexp_extract(pq, '^[^?]*\\?(.*)$$', 1), '&'), x -> x <> '')) AS params
           |  FROM p4)
           |SELECT doc_id, url,
           |  CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END
           |    || host || portn || path ||
           |    CASE WHEN len(params) = 0 THEN ''
           |         ELSE '?' || array_to_string(params, '&') END AS normalized,
           |  host,
           |  ${graft.llm.Urls.registrableDomainSqlCase("host")} AS domain
           |FROM p5 ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import graft.llm.Urls
      val url = urlColumn(col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          Urls.normalizeUrl(col("url")).as("normalized"),
          Urls.hostOf(col("url")).as("host"),
          Urls.registrableDomain(Urls.hostOf(col("url"))).as("domain"))
        .orderBy(col("doc_id"))
    },

    // Per-domain crawl stats + blocklist + cap — the registrable-domain
    // composition a crawl pipeline runs before fetching/training: page
    // count and whitespace-token mass per domain, a broadcast-anti-join
    // blocklist verdict, and the q138 per-group cap (md5-order quota)
    // applied to the allowed slice, all keyed by the q167 domain
    // extraction. Only per-domain aggregates shuffle; the blocklist
    // broadcasts; the oracle replays the cap with the plain
    // row_number-over-md5 truth (q138's proof pattern).
    QueryDef.sql(
      "q168_domain_stats", {
        val urlGen = urlGenSql
        s"""WITH u AS (SELECT doc_id, text, $urlGen AS url FROM documents),
           |h AS (SELECT doc_id, text,
           |    lower(regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*', ''),
           |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?]*)', 1), ':[0-9]+$$', '')) AS host
           |  FROM u),
           |dom AS (SELECT doc_id, text,
           |    ${graft.llm.Urls.registrableDomainSqlCase("host")} AS domain FROM h),
           |tok AS (SELECT doc_id, domain,
           |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tok
           |  FROM dom),
           |blocked AS (SELECT unnest(['example.net', 'shop.example.com']) AS domain),
           |stats AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tok GROUP BY domain),
           |allowed AS (SELECT t.doc_id, t.domain FROM tok t
           |            WHERE t.domain IS NULL
           |               OR t.domain NOT IN (SELECT domain FROM blocked)),
           |capped AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept FROM (
           |    SELECT domain, row_number() OVER (PARTITION BY domain
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM allowed)
           |  WHERE rn <= 40 GROUP BY domain)
           |SELECT s.domain, s.n_docs, s.n_tokens,
           |  s.domain IN (SELECT domain FROM blocked) AS blocked,
           |  COALESCE(c.n_kept, 0) AS n_kept
           |FROM stats s LEFT JOIN capped c USING (domain)
           |ORDER BY s.domain""".stripMargin
      }) { (s, d) =>
      import graft.llm.Urls
      val url = urlColumn(col("doc_id"))
      // ONE text scan: the stats aggregate and the cap composition below
      // both consume this narrow (doc_id, domain, n_tok) proxy frame —
      // unpersisted, the URL-normalization regex chain and the tokenizer
      // re-ran per consumer (the before plan held FIVE documents scans:
      // stats + capPerGroup's three input references after the anti-join).
      // The persist is O(rows × ~30 B), spills to disk, and is released by
      // the CacheRegistry — the decide-on-small-rows shape of guide §8.
      val withDom = CacheRegistry.persist(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), url.as("url"))
        .withColumn("domain", Urls.registrableDomain(Urls.hostOf(col("url"))))
        .select(col("doc_id"), col("domain"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tok")))
      val stats = withDom.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val blocklist = {
        import s.implicits._
        Seq("example.net", "shop.example.com").toDF("domain")
      }
      val allowed = Urls.dropBlockedDomains(withDom, "domain", blocklist)
      val kept = Splits.capPerGroup(allowed, "domain", "doc_id", n = 40)
        .groupBy(col("domain")).agg(count(lit(1)).as("n_kept"))
      stats
        .withColumn("blocked", col("domain").isin("example.net", "shop.example.com"))
        .join(kept, Seq("domain"), "left")
        .select(col("domain"), col("n_docs"), col("n_tokens"), col("blocked"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("domain"))
    },

    // REAL WAV/RIFF container parse feeding the frame math: synthetic
    // WAVs (canonical 44-byte headers at three sample rates, data = the
    // rpad-256 document text; every 7th payload is headerless garbage)
    // are built on the Spark side as actual bytes and parsed by the
    // WavHeader kernel — the q107 framing then runs on the PARSED rate
    // and data slice. The oracle knows the construction constants in
    // closed form (the q41/q42 synthetic-image pattern): header fields,
    // per-rate frame/hop widths, frame-content digests over the ASCII
    // data, and ok=false rows for the corrupt payloads. A parser that
    // misreads any field shifts frames or rates and fails the hash.
    QueryDef.sql(
      "q169_wav_parse",
      """WITH t AS (
        |  SELECT doc_id AS media_id, text, doc_id % 7 = 0 AS corrupt,
        |    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 12000 ELSE 16000 END AS rate
        |  FROM documents WHERE doc_id < 200),
        |d AS (SELECT media_id, corrupt, rate, rpad(text, 256, 'x') AS data FROM t),
        |fr AS (SELECT media_id, rate, rate * 8 // 1000 AS fb, rate * 4 // 1000 AS hb, data
        |       FROM d WHERE NOT corrupt),
        |f AS (SELECT media_id, unnest(range(0, 256 - fb + 1, hb)) AS st, fb, hb, data FROM fr),
        |fm AS (SELECT media_id, st // hb AS frame_id, md5(substring(data, st + 1, fb)) AS fm FROM f),
        |dig AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |          md5(string_agg(fm, '' ORDER BY frame_id)) AS frames_digest
        |        FROM fm GROUP BY media_id)
        |SELECT t.media_id, NOT t.corrupt AS ok,
        |  CASE WHEN t.corrupt THEN NULL ELSE t.rate END AS sample_rate,
        |  CASE WHEN t.corrupt THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN t.corrupt THEN NULL ELSE 16 END AS bits,
        |  CAST(CASE WHEN t.corrupt THEN NULL ELSE 256 END AS BIGINT) AS data_len,
        |  COALESCE(dig.n_frames, 0) AS n_frames, dig.frames_digest
        |FROM t LEFT JOIN dig USING (media_id) ORDER BY t.media_id""".stripMargin) { (s, d) =>
      val rates = Seq(8000, 12000, 16000)
      val headers = rates.map(r => Multimodal.wavHeaderBytes(r, 1, 16, 256))
      val header = when(pmod(col("doc_id"), lit(3)) === 0, lit(headers(0)))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit(headers(1)))
        .otherwise(lit(headers(2)))
      val payload = when(pmod(col("doc_id"), lit(7)) === 0, col("text").cast("binary"))
        .otherwise(concat(header, rpad(col("text"), 256, "x").cast("binary")))
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), payload.as("p"))
      val wav = Multimodal.asWavTable(docs, "doc_id", "p")
      val frames = Multimodal.frameSlices(wav.filter(col("ok")), frameMs = 4, hopMs = 2)
        .select(col("media_id"), col("frame_id"), md5(col("frame")).as("fm"))
      val dig = frames.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("frame_id"), col("fm")))),
            x => x.getField("fm")), "").cast("binary")).as("frames_digest"))
      wav.select(col("media_id"), col("ok"),
          col("meta.sample_rate").as("sample_rate"), col("channels"), col("bits"),
          col("meta.n_bytes").as("data_len"))
        .join(dig, Seq("media_id"), "left")
        .select(col("media_id"), col("ok"), col("sample_rate"), col("channels"),
          col("bits"), col("data_len"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"), col("frames_digest"))
        .orderBy(col("media_id"))
    },

    // STREAMING quality-quantile selection (q163's operational leg, the
    // q158 proof pattern): the corpus drained as two deterministic
    // micro-batches; each batch merges its per-doc count triplets into
    // epoch state (compacting in-stream), re-scores the cumulative corpus
    // from counts alone — the unigram model and the p40 cutoff both move
    // as data arrives — and emits the full keep-set snapshot. The oracle
    // replays BOTH snapshots from scratch (batch 0 = the even half,
    // batch 1 = everything, each the q163 SQL over that slice), so the
    // incremental count-merge + re-score + quantile path is pinned
    // cell-for-cell and the final streamed state provably equals the
    // batch answer.
    QueryDef.sql(
      "q170_stream_quality_select", {
        def slice(sfx: String, batchId: Int, where: String) =
          s"""terms$sfx AS (
             |  SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
             |  FROM documents $where),
             |tf$sfx AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms$sfx GROUP BY 1, 2),
             |model$sfx AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf$sfx GROUP BY 1),
             |tot$sfx AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM tf$sfx),
             |doc$sfx AS (
             |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
             |    SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c) AS lp
             |  FROM tf$sfx JOIN model$sfx USING (term) CROSS JOIN tot$sfx GROUP BY id),
             |scored$sfx AS (
             |  SELECT d.doc_id AS id, COALESCE(doc$sfx.n_tok, 0) AS n_tok, ROUND(doc$sfx.lp, 6) AS avg_logp
             |  FROM documents d LEFT JOIN doc$sfx ON doc$sfx.id = d.doc_id $where),
             |cut$sfx AS (SELECT quantile_cont(avg_logp, 0.4) AS cutoff FROM scored$sfx WHERE avg_logp IS NOT NULL),
             |k$sfx AS (SELECT CAST($batchId AS BIGINT) AS batch_id, id, n_tok, avg_logp,
             |            COALESCE(avg_logp >= cutoff, false) AS kept
             |          FROM scored$sfx CROSS JOIN cut$sfx)""".stripMargin
        s"""WITH
           |${slice("0", 0, "WHERE doc_id % 2 = 0")},
           |${slice("1", 1, "")}
           |SELECT * FROM k0 UNION ALL SELECT * FROM k1
           |ORDER BY batch_id, id""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val staged = stageModSplits(corpus, d, "q170", 2)
      val base = java.nio.file.Files.createTempDirectory("graft_q170_").toString
      rotateRunDirs("q170", Seq(base))
      TextAnalysis.qualityQuantileStreaming(s, staged, corpus.schema, "doc_id", "text",
          q = 0.4, base + "/state", base + "/out", compactEvery = 1)
        .select(col("batch_id").cast("long").as("batch_id"), col("id"),
          col("n_tok"), col("avg_logp"), col("kept"))
        .orderBy(col("batch_id"), col("id"))
    },

    // STREAMING NB training — distributed linear-model training as an
    // ingest loop (the q136/q158 proof pattern applied to q166's binary
    // quality head): each micro-batch merges its (label, bucket) token
    // counts and per-label doc counts into epoch state (compacting
    // in-stream) and emits the full dense model snapshot re-derived from
    // cumulative counts. The oracle retrains BOTH snapshots from scratch
    // (batch 0 = the even half, batch 1 = everything) — counts are
    // additive, so the incremental merge must land cell-for-cell on the
    // batch-trained weights, and the final streamed model provably
    // equals batch nbTrain.
    QueryDef.sql(
      "q171_stream_nb_train", {
        def wts(sfx: String, batchId: Int, where: String) =
          s"""lab$sfx AS (SELECT doc_id,  text,
             |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             |         THEN 'ref' ELSE 'other' END AS label
             |  FROM documents $where),
             |ttok$sfx AS (SELECT label,
             |    unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
             |  FROM lab$sfx),
             |tcnt$sfx AS (SELECT label,
             |    CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ttok$sfx GROUP BY 1, 2),
             |tot$sfx AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM tcnt$sfx GROUP BY 1),
             |docs$sfx AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nd FROM lab$sfx GROUP BY 1),
             |ndt$sfx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndt FROM lab$sfx),
             |m$sfx AS (SELECT CAST($batchId AS BIGINT) AS batch_id, g.label,
             |    CAST(g.bucket AS BIGINT) AS bucket,
             |    CAST(ROUND(ln((COALESCE(c.c, 0) + 0.5) / (g.n + 0.5 * 64)) * 1e9, 0) AS BIGINT) AS w_u,
             |    CAST(ROUND(ln(g.nd / ndt$sfx.ndt) * 1e9, 0) AS BIGINT) AS prior_u
             |  FROM (SELECT d.label, b.bucket, COALESCE(t.n, 0) AS n, d.nd
             |        FROM docs$sfx d LEFT JOIN tot$sfx t USING (label)
             |        CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b) g
             |  LEFT JOIN tcnt$sfx c ON c.label = g.label AND c.bucket = g.bucket
             |  CROSS JOIN ndt$sfx)""".stripMargin
        s"""WITH
           |${wts("0", 0, "WHERE doc_id % 2 = 0")},
           |${wts("1", 1, "")}
           |SELECT * FROM m0 UNION ALL SELECT * FROM m1
           |ORDER BY batch_id, label, bucket""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"),
        when(col("source").isin("src0", "src1", "src2", "src3"), lit("ref"))
          .otherwise(lit("other")).as("label"),
        col("text"))
      val staged = stageModSplits(corpus, d, "q171", 2)
      val base = java.nio.file.Files.createTempDirectory("graft_q171_").toString
      rotateRunDirs("q171", Seq(base))
      graft.llm.Classify.nbTrainStreaming(s, staged, corpus.schema, "label", "text",
          buckets = 64, alpha = 0.5, base + "/state", base + "/out", compactEvery = 1)
        .select(col("batch_id").cast("long").as("batch_id"), col("label"),
          col("bucket"), col("w_u"), col("prior_u"))
        .orderBy(col("batch_id"), col("label"), col("bucket"))
    },

    // MULTILINGUAL full-byte BPE encode identity: the fixture corpus is
    // pure ASCII, so this row is what pins the >= 0x80 half of the byte
    // alphabet in the GATE — documents are augmented with a deterministic
    // marker mixing CJK, accented Latin, typographic punctuation,
    // currency, digits and decimals, and the q156 machinery replays
    // encode over the augmented pre-token vocabulary. Multibyte
    // characters never split across pre-tokens (all their bytes are in
    // the 'other' class), and the oracle recovers each byte from
    // hex(encode(w)) — a mapping error on any of the 256 symbols, a
    // UTF-8 boundary slip, or a mapped-space merge bug fails the hash.
    QueryDef.sql(
      "q172_bpe_multilingual",
      s"""WITH RECURSIVE
         |${bpeOraclePrefixOver(
            "text || ' 日本語テキスト naïve café — ¡hola! Ωμέγα 3,99 € №42 …done'",
            "WHERE doc_id < 150")},
         |fin AS (SELECT w, list_transform(syms, s -> s[1]) AS toks FROM enc WHERE r = $bpeNumMerges),
         |u AS (SELECT w, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i FROM fin)
         |SELECT w, CAST(octet_length(encode(w)) AS BIGINT) AS n_bytes,
         |  CAST(COUNT(*) AS BIGINT) AS n_sub,
         |  string_agg(u.tok, '|' ORDER BY u.i) AS toks
         |FROM u GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      val aug = concat(col("text"),
        lit(" 日本語テキスト naïve café — ¡hola! Ωμέγα 3,99 € №42 …done"))
      Tables.documents(s, d).filter(col("doc_id") < 150)
        .select(explode(graft.llm.Bpe.preTokens(aug)).as("w")).distinct()
        .select(col("w"), graft.llm.Bpe.encode(col("w")).as("tk"))
        .select(col("w"),
          length(col("w").cast("binary")).cast("long").as("n_bytes"),
          size(col("tk")).cast("long").as("n_sub"),
          array_join(col("tk"), "|").as("toks"))
        .orderBy(col("w"))
    },

    // Corpus-wide exact LINE dedup (the published C4 boilerplate rule:
    // web pages repeat whole lines — nav footers, cookie banners). The
    // fixture has no newlines, so both engines build the same synthetic
    // pages: 5-word lines plus a per-SOURCE footer line shared by ~25
    // docs — the realistic duplicate class. First-owner rule: the
    // corpus-minimal (doc_id, line_idx) occurrence of each trimmed line
    // survives; docs rebuild from their kept lines in order (a doc whose
    // lines are all owned elsewhere keeps empty text). The oracle
    // replays split, ownership window and rebuild verbatim.
    QueryDef.sql(
      "q173_line_dedup",
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:[A-Za-z0-9]+ ){5})', e'\\1\n', 'g')
        |      || e'\n' || 'visit ' || source || ' homepage now' AS page
        |  FROM documents),
        |l0 AS (
        |  SELECT doc_id, unnest(string_split(page, chr(10))) AS line,
        |    generate_subscripts(string_split(page, chr(10)), 1) - 1 AS i
        |  FROM p),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx, line
        |      FROM l0 WHERE trim(line) <> ''),
        |rk AS (SELECT doc_id, line_idx, line,
        |         ROW_NUMBER() OVER (PARTITION BY trim(line)
        |           ORDER BY doc_id, line_idx) AS rn
        |       FROM l),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |          CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |          COALESCE(string_agg(CASE WHEN rn = 1 THEN line END,
        |            chr(10) ORDER BY line_idx), '') AS text
        |        FROM rk GROUP BY doc_id)
        |SELECT p.doc_id, COALESCE(agg.n_lines, 0) AS n_lines,
        |  COALESCE(agg.n_kept, 0) AS n_kept, COALESCE(agg.text, '') AS text
        |FROM p LEFT JOIN agg USING (doc_id) ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      import graft.llm.Lines
      val page = concat(
        regexp_replace(col("text"), "((?:[A-Za-z0-9]+ ){5})", "$1\n"),
        lit("\nvisit "), col("source"), lit(" homepage now"))
      val aug = Tables.documents(s, d).select(col("doc_id"), page.as("page"))
      val counts = Lines.lineDedup(aug, "doc_id", "page")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      val rebuilt = Lines.removeDuplicateLines(aug, "doc_id", "page")
      rebuilt.join(counts, Seq("id"), "left")
        .select(col("id").as("doc_id"), coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("text"))
        .orderBy(col("doc_id"))
    },

    // The C4 line-rule battery (terminal punctuation / >= 5 words / no
    // braces / no "javascript" banner), auditable per rule like q152's
    // Gopher bundle. Lines are deterministically decorated on both
    // engines — punctuation variants by (doc_id + idx) % 5, code/banner
    // injections by % 7 — so every rule has passing AND failing lines.
    // Pure per-row column arithmetic; per-line verdicts compared
    // cell-exact.
    QueryDef.sql(
      "q174_c4_line_rules",
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:[A-Za-z0-9]+ ){5})', e'\\1\n', 'g') AS page
        |  FROM documents WHERE doc_id < 250),
        |l0 AS (
        |  SELECT doc_id, unnest(string_split(page, chr(10))) AS line,
        |    generate_subscripts(string_split(page, chr(10)), 1) - 1 AS i
        |  FROM p),
        |dec AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
        |    line ||
        |    CASE (doc_id + i) % 7 WHEN 0 THEN ' please enable javascript to continue'
        |                          WHEN 3 THEN ' config { x: 1 }' ELSE '' END ||
        |    CASE (doc_id + i) % 5 WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN ''
        |                          WHEN 3 THEN '?"' ELSE '.' END AS line
        |  FROM l0),
        |r AS (
        |  SELECT doc_id, line_idx, line, trim(line) AS t FROM dec)
        |SELECT doc_id, line_idx, line,
        |  regexp_matches(t, '[.!?]["'']?$') AS ok_punct,
        |  len(list_filter(string_split(t, ' '), x -> x <> '')) >= 5 AS ok_words,
        |  NOT contains(t, '{') AND NOT contains(t, '}') AS ok_brace,
        |  NOT contains(lower(t), 'javascript') AS ok_js,
        |  regexp_matches(t, '[.!?]["'']?$')
        |    AND len(list_filter(string_split(t, ' '), x -> x <> '')) >= 5
        |    AND NOT contains(t, '{') AND NOT contains(t, '}')
        |    AND NOT contains(lower(t), 'javascript') AS kept
        |FROM r ORDER BY doc_id, line_idx""".stripMargin) { (s, d) =>
      import graft.llm.Lines
      val base = regexp_replace(col("text"), "((?:[A-Za-z0-9]+ ){5})", "$1\n")
      val dec = array_join(transform(split(base, "\n"), (x, i) =>
        concat(x,
          when(pmod(col("doc_id") + i, lit(7)) === 0,
            lit(" please enable javascript to continue"))
            .when(pmod(col("doc_id") + i, lit(7)) === 3, lit(" config { x: 1 }"))
            .otherwise(lit("")),
          when(pmod(col("doc_id") + i, lit(5)) === 0, lit("."))
            .when(pmod(col("doc_id") + i, lit(5)) === 1, lit("!"))
            .when(pmod(col("doc_id") + i, lit(5)) === 2, lit(""))
            .when(pmod(col("doc_id") + i, lit(5)) === 3, lit("?\""))
            .otherwise(lit(".")))), "\n")
      val aug = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"), dec.as("page"))
      Lines.c4LineRules(aug, "doc_id", "page", minWords = 5)
        .select(col("id").as("doc_id"), col("line_idx"), col("line"),
          col("ok_punct"), col("ok_words"), col("ok_brace"), col("ok_js"), col("kept"))
        .orderBy(col("doc_id"), col("line_idx"))
    },

    // HTML → text extraction (the step before every quality/dedup pass):
    // synthetic pages wrap the document text with title, script/style
    // blocks, a comment, anchors and entity references — both engines
    // build the same page and replay the identical strip chain
    // (comment/script/style removal, tag strip, ordered entity fold with
    // &amp; LAST, whitespace collapse). Title and outlink count ride
    // along. A regex drift on any of the six patterns fails the hash.
    QueryDef.sql(
      "q175_html_extract", {
        val entityFold = graft.llm.Html.Entities.foldLeft("no_tags") {
          case (acc, (e, r)) =>
            val rq = r.replace("'", "''")
            s"replace($acc, '$e', '$rq')"
        }
        val titleFold = graft.llm.Html.Entities.foldLeft(
          "regexp_extract(html, '(?s)<title[^>]*>(.*?)</title>', 1)") {
          case (acc, (e, r)) =>
            val rq = r.replace("'", "''")
            s"replace($acc, '$e', '$rq')"
        }
        s"""WITH p AS (
           |  SELECT doc_id,
           |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
           |    ' &amp; friends</title><script type="text/javascript">var x = 1;' ||
           |    ' if (x < 2) { x++; }</script><style>.c { color: red }</style>' ||
           |    '<!-- hidden --></head><body><p>' || text ||
           |    '</p><a href="/a">one</a> <a href="/b">two</a>' ||
           |    ' &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</body></html>' AS html
           |  FROM documents WHERE doc_id < 250),
           |s1 AS (SELECT doc_id, html,
           |    regexp_replace(regexp_replace(regexp_replace(html,
           |      '${graft.llm.Html.Comment}', ' ', 'g'),
           |      '${graft.llm.Html.ScriptBlock}', ' ', 'g'),
           |      '${graft.llm.Html.StyleBlock}', ' ', 'g') AS no_blocks
           |  FROM p),
           |s2 AS (SELECT doc_id, html,
           |    regexp_replace(no_blocks, '${graft.llm.Html.Tag}', ' ', 'g') AS no_tags
           |  FROM s1)
           |SELECT doc_id,
           |  $titleFold AS title,
           |  trim(regexp_replace($entityFold, '[ \\t\\n\\f\\r]+', ' ', 'g')) AS text,
           |  CAST(len(regexp_extract_all(
           |    regexp_replace(html, '${graft.llm.Html.Comment}', ' ', 'g'),
           |    '(?i)<a[ \\t\\n\\f\\r>]')) AS BIGINT) AS n_links
           |FROM s2 ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import graft.llm.Html
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; friends</title><script type=\"text/javascript\">var x = 1;"),
        lit(" if (x < 2) { x++; }</script><style>.c { color: red }</style>"),
        lit("<!-- hidden --></head><body><p>"), col("text"),
        lit("</p><a href=\"/a\">one</a> <a href=\"/b\">two</a>"),
        lit(" &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</body></html>"))
      Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"), Html.title(col("html")).as("title"),
          Html.extractText(col("html")).as("text"),
          Html.linkCount(col("html")).as("n_links"))
        .orderBy(col("doc_id"))
    },

    // BPE encode∘decode ROUND TRIP over the multilingual vocabulary
    // (q172's augmentation): detokenization inverts the byte→printable
    // map exactly, so decoded text equals the original pre-token for
    // EVERY input byte sequence. Compared in hex so the check is
    // byte-grade, not collation-grade; the oracle derives the expected
    // hex from the original (hex(encode(w))) — any inverse-map slip or
    // lossy merge shows as a hex mismatch or a false roundtrip flag.
    QueryDef.sql(
      "q176_bpe_roundtrip",
      s"""WITH u AS (
         |  SELECT DISTINCT unnest(regexp_extract_all(
         |    text || ' 日本語テキスト naïve café — ¡hola! Ωμέγα 3,99 € №42 …done',
         |    '$bpePreTokRe')) AS w
         |  FROM documents WHERE doc_id < 150)
         |SELECT w, true AS roundtrip, hex(encode(w)) AS rt_hex
         |FROM u ORDER BY w""".stripMargin) { (s, d) =>
      val aug = concat(col("text"),
        lit(" 日本語テキスト naïve café — ¡hola! Ωμέγα 3,99 € №42 …done"))
      Tables.documents(s, d).filter(col("doc_id") < 150)
        .select(explode(graft.llm.Bpe.preTokens(aug)).as("w")).distinct()
        .select(col("w"),
          graft.llm.Bpe.decode(graft.llm.Bpe.encode(col("w"))).as("dec"))
        .select(col("w"), (col("dec") === col("w")).as("roundtrip"),
          hex(col("dec").cast("binary")).as("rt_hex"))
        .orderBy(col("w"))
    },

    // Outlink graph: the crawl-frontier composition of the HTML and URL
    // layers — hrefs extracted from synthetic pages (absolute,
    // root-relative, directory-relative, scheme-relative), resolved
    // against each page's messy URL (q167's generator), reduced to
    // (src_domain, dst_domain) registrable-domain edges with counts.
    // Both engines replay extraction, RFC-style resolution, and the
    // shared public-suffix decision chain; only domain-pair aggregates
    // ever shuffle.
    QueryDef.sql(
      "q177_outlink_graph", {
        val dstHost = "lower(regexp_replace(regexp_extract(regexp_replace(" +
          "regexp_replace(resolved, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', ''), " +
          "'^([^/?]*)', 1), ':[0-9]+$', ''))"
        val srcHost = "lower(regexp_replace(hp, ':[0-9]+$', ''))"
        s"""WITH u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
           |h AS (SELECT doc_id, url,
           |    '<a href="/about">a</a><a href="https://partner' ||
           |    CAST(doc_id % 4 AS VARCHAR) ||
           |    '.example.org/p">b</a><a href="img/' || CAST(doc_id AS VARCHAR) ||
           |    '.png">c</a><a href="//cdn.example.net/lib.js">d</a>' ||
           |    '<a href="mailto:ops@contact.example.org">e</a>' ||
           |    '<a href="#top">f</a><a href="?page=2">g</a>' AS html
           |  FROM u),
           |parts AS (SELECT doc_id, url,
           |    regexp_replace(url, '#.*', '') AS nf, html FROM h),
           |p2 AS (SELECT doc_id, html, nf,
           |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
           |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM parts),
           |p3 AS (SELECT doc_id, html, nf, sch,
           |    regexp_extract(rest, '^([^/?]*)', 1) AS hp,
           |    regexp_extract(regexp_replace(rest, '^[^/?]*', ''), '^([^?]*)', 1) AS path
           |  FROM p2),
           |p4 AS (SELECT doc_id, html, nf, sch, hp, path,
           |    regexp_replace(CASE WHEN path = '' THEN '/' ELSE path END, '[^/]*$$', '') AS dir
           |  FROM p3),
           |e AS (SELECT doc_id, nf, sch, hp, path, dir,
           |    unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS href
           |  FROM p4),
           |r AS (SELECT doc_id, sch, hp,
           |    CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
           |         WHEN href LIKE '//%' THEN sch || ':' || href
           |         WHEN href LIKE '/%' THEN sch || '://' || hp || href
           |         WHEN href LIKE '?%' THEN sch || '://' || hp || path || href
           |         WHEN href = '' OR href LIKE '#%' THEN nf
           |         ELSE sch || '://' || hp || dir || href END AS resolved
           |  FROM e),
           |dom AS (SELECT
           |    ${graft.llm.Urls.registrableDomainSqlCase(srcHost)} AS src_domain,
           |    ${graft.llm.Urls.registrableDomainSqlCase(dstHost)} AS dst_domain
           |  FROM r)
           |SELECT src_domain, dst_domain, CAST(COUNT(*) AS BIGINT) AS n_links
           |FROM dom GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (s, d) =>
      import graft.llm.{Html, Urls}
      val url = urlColumn(col("doc_id"))
      val html = concat(lit("<a href=\"/about\">a</a><a href=\"https://partner"),
        pmod(col("doc_id"), lit(4)).cast("string"),
        lit(".example.org/p\">b</a><a href=\"img/"), col("doc_id").cast("string"),
        lit(".png\">c</a><a href=\"//cdn.example.net/lib.js\">d</a>" +
          "<a href=\"mailto:ops@contact.example.org\">e</a>" +
          "<a href=\"#top\">f</a><a href=\"?page=2\">g</a>"))
      // page-side work ONCE PER PAGE, before the href explode: the source
      // domain and the resolveUrl page parse (~7 regexps + the PSL case
      // tree) don't depend on the href, and the former post-explode
      // projection re-ran them per link row (7 links/page here; dozens on
      // real pages). Same expressions, factored — results identical.
      // the parse must sit in its OWN projection below the explode-select:
      // expressions listed beside a generator analyze into a Project ABOVE
      // the Generate (per-href evaluation — the exact duplication being
      // removed), while a separate child projection stays below it
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"), html.as("html"))
        .select(
          Urls.registrableDomain(Urls.hostOf(col("url"))).as("src_domain"),
          Urls.resolveUrlPrep(col("url")).as("__parts"),
          col("html"))
        .select(col("src_domain"), col("__parts"),
          explode(regexp_extract_all(col("html"),
            lit("<a href=\"([^\"]*)\""), lit(1))).as("href"))
        .select(col("src_domain"),
          Urls.registrableDomain(
            Urls.hostOf(Urls.resolveUrlPrepared(col("__parts"), col("href"))))
            .as("dst_domain"))
        .groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("src_domain"), col("dst_domain"))
    },

    // END-TO-END crawl → packed corpus: the whole round-10 layer chained
    // as one pipeline — HTML→text extraction (q175), a whitespace-token
    // quality gate, exact content-fingerprint dedup (q30's keep-min rule;
    // every 10th page carries identical boilerplate so ~10% of the corpus
    // collapses to one survivor), full-byte BPE pricing (q156/q157), and
    // greedy sequence packing into 512-token bins. The oracle replays
    // EVERY stage in one WITH chain — extraction regexes, the ws-token
    // gate, the min-doc_id ownership window, the per-pre-token merge-loop
    // token counts, and the prefix-sum placement — so a drift anywhere in
    // the composition fails the hash, the strongest whole-pipeline pin
    // beside q76's curation e2e.
    QueryDef.sql(
      "q178_crawl_to_packed", crawlToPackedOracleSql) { (s, d) =>
      import graft.llm.{Html, Dedup}
      crawlToPackedChain(s, d, crawlPageHtml)
    },

    // The q178 crawl→packed chain run from AT-REST WARC BYTES: the same
    // synthetic pages are serialized into a real multi-member .warc.gz
    // (q187's sink), read back through the byte-walking record parser,
    // and the doc id recovered from each record's WARC-Target-URI — then
    // the identical extraction → quality gate → dedup → BPE pricing →
    // packing chain runs on the RECOVERED html. The oracle is q178's
    // verbatim: the container round trip must be lossless for the hash
    // to land, so this row pins "true end-to-end from crawl storage".
    QueryDef.sql(
      "q191_warc_to_packed", crawlToPackedOracleSql) { (s, d) =>
      import graft.sources.Warc
      val pages = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"),
          concat(lit("http://crawl.example/doc/"), col("doc_id").cast("string")).as("url"),
          crawlPageHtml.as("html"))
        .orderBy(col("doc_id")).coalesce(1)
      val dir = java.nio.file.Files.createTempDirectory("graft_q191_").toString
      rotateRunDirs("q191", Seq(dir))
      Warc.writeWarcGz(pages, "url", "html", dir + "/warc")
      val recovered = Warc.readWarc(s, dir + "/warc")
        .filter(col("warc_type") === "response" && col("ok"))
        .select(regexp_extract(col("url"), "doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("html"))
      crawlToPackedChainFrom(recovered)
    },

    // Byte-class script profile — the cheap script / encoding-health
    // signal beside the trained lang-ID (q183): per-document counts of
    // ASCII letters / digits / whitespace and UTF-8 lead bytes by width
    // (CJK ⇒ 3-byte, Cyrillic/Arabic ⇒ 2-byte; a lead/continuation
    // imbalance is the mojibake tell), plus a script hint from pure
    // integer comparisons. One codegen pass, exact longs only; the
    // oracle recovers every byte from hex(encode) and replays the class
    // ranges as integer filters.
    QueryDef.sql(
      "q192_script_profile",
      s"""WITH mdocs AS ($multiDocsSql),
         |b AS (SELECT doc_id, hex(encode(t)) AS h, octet_length(encode(t)) AS nb FROM mdocs),
         |bl AS (SELECT doc_id, nb, list_transform(range(0, nb), k ->
         |    (strpos('0123456789ABCDEF', substr(h, 2*CAST(k AS INT)+1, 1))-1)*16
         |    + (strpos('0123456789ABCDEF', substr(h, 2*CAST(k AS INT)+2, 1))-1)) AS bs FROM b),
         |c AS (SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
         |  CAST(len(list_filter(bs, x -> (x BETWEEN 65 AND 90) OR (x BETWEEN 97 AND 122))) AS BIGINT) AS n_letter,
         |  CAST(len(list_filter(bs, x -> x BETWEEN 48 AND 57)) AS BIGINT) AS n_digit,
         |  CAST(len(list_filter(bs, x -> x IN (32, 9, 10, 12, 13))) AS BIGINT) AS n_ws,
         |  CAST(len(list_filter(bs, x -> x BETWEEN 192 AND 223)) AS BIGINT) AS n_lead2,
         |  CAST(len(list_filter(bs, x -> x BETWEEN 224 AND 239)) AS BIGINT) AS n_lead3,
         |  CAST(len(list_filter(bs, x -> x BETWEEN 240 AND 247)) AS BIGINT) AS n_lead4
         |  FROM bl)
         |SELECT doc_id, n_bytes, n_letter, n_digit, n_ws, n_lead2, n_lead3, n_lead4,
         |  n_bytes - n_letter - n_digit - n_ws - n_lead2 - n_lead3 - n_lead4 AS n_other,
         |  CASE WHEN n_lead3 > 0 AND n_lead3 >= n_lead2 THEN 'cjk'
         |       WHEN n_lead2 > 0 THEN 'twobyte' ELSE 'ascii' END AS script_hint
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      multiDocs(s, d)
        .select(col("doc_id"), TextAnalysis.byteClassStats(col("t")).as("st"))
        .select(col("doc_id"), col("st.n_bytes").as("n_bytes"),
          col("st.n_letter").as("n_letter"), col("st.n_digit").as("n_digit"),
          col("st.n_ws").as("n_ws"), col("st.n_lead2").as("n_lead2"),
          col("st.n_lead3").as("n_lead3"), col("st.n_lead4").as("n_lead4"),
          col("st.n_other").as("n_other"),
          when(col("st.n_lead3") > 0 && col("st.n_lead3") >= col("st.n_lead2"), lit("cjk"))
            .when(col("st.n_lead2") > 0, lit("twobyte"))
            .otherwise(lit("ascii")).as("script_hint"))
        .orderBy(col("doc_id"))
    },

    // PII scrubbing — the redaction pass before any corpus release:
    // planted emails / SSN-shaped ids / IPv4s / phone numbers (4 of 5
    // docs; every doc also keeps its organic text, which both engines
    // scan with the same regexes). Patterns apply in a staged order
    // (email, SSN, IP, then the looser phone) with counts at each turn,
    // so counts equal replacements and the narrow patterns are consumed
    // before the broad one can swallow them. Output: per-pattern counts
    // + the fully-redacted text, all Java∩RE2-replayable.
    QueryDef.sql(
      "q193_pii_redact", {
        val plant =
          "' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org or visit 10.2.' ||" +
            " CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) ||" +
            " ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||" +
            " ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end'"
        val stages = graft.llm.Pii.Patterns.zipWithIndex
        val cte = stages.map { case ((name, re, repl), i) =>
          s"""s${i + 1} AS (SELECT doc_id,
             |  CAST(len(regexp_extract_all(t$i, '$re')) AS BIGINT) AS n_$name,
             |  regexp_replace(t$i, '$re', '$repl', 'g') AS t${i + 1}
             |  FROM s$i)""".stripMargin
        }.mkString(",\n")
        val nCols = stages.map { case ((name, _, _), i) =>
          s"(SELECT n_$name FROM s${i + 1} x WHERE x.doc_id = s4.doc_id) AS n_$name"
        }.mkString(", ")
        s"""WITH s0 AS (
           |  SELECT doc_id,
           |    text || CASE WHEN doc_id % 5 = 0 THEN '' ELSE $plant END AS t0
           |  FROM documents),
           |$cte
           |SELECT doc_id, $nCols, t4 AS redacted
           |FROM s4 ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val plant = concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or visit 10.2."),
        pmod(col("doc_id"), lit(200)).cast("string"), lit("."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(" ssn 123-45-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" call +1 (555) 010-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" end"))
      val t = concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("")).otherwise(plant))
      Tables.documents(s, d)
        .select(col("doc_id") +: graft.llm.Pii.redactReport(t): _*)
        .orderBy(col("doc_id"))
    },

    // Bad-word document filter — the C4 blocklist rule (any flagged word
    // drops the document): a planted neutral blocklist hits two doc
    // slices; output = token counts, flagged-token count (multiplicity),
    // and the conjunctive keep. The wordlist broadcasts by construction
    // (a literal array); at fleet scale the same shape joins a broadcast
    // wordlist table.
    QueryDef.sql(
      "q194_badword_filter",
      """WITH t AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 3 THEN ' casino jackpot tonight'
        |                 WHEN doc_id % 7 = 5 THEN ' lottery winner announcement'
        |                 ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z]+')) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(list_transform(regexp_extract_all(t, '[A-Za-z]+'), x -> lower(x)),
        |      x -> x IN ('casino', 'jackpot', 'lottery', 'winner'))) AS BIGINT) AS n_flagged
        |  FROM t)
        |SELECT doc_id, n_tok, n_flagged, n_flagged = 0 AS kept
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val badwords = Seq("casino", "jackpot", "lottery", "winner")
      val t = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 3, lit(" casino jackpot tonight"))
          .when(pmod(col("doc_id"), lit(7)) === 5, lit(" lottery winner announcement"))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.wordTokens(t).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          size(filter(col("toks"),
            x => array_contains(array(badwords.map(lit): _*), x)))
            .cast("long").as("n_flagged"))
        .select(col("doc_id"), col("n_tok"), col("n_flagged"),
          (col("n_flagged") === 0).as("kept"))
        .orderBy(col("doc_id"))
    },

    // CCNet head/middle/tail perplexity buckets — the published CCNet
    // sharding rule: within each SOURCE, docs bucket by unigram-LM score
    // terciles (head = closest to the corpus distribution). Reuses the
    // session-shared q150 score frame; the per-source cutoffs come from
    // the exact-percentile machinery (q69's bracketing = quantile_cont)
    // and broadcast into the verdict join. Zero-token docs carry a NULL
    // bucket — a sharding pass must see them, not silently tail them.
    QueryDef.sql(
      "q195_ccnet_buckets",
      """WITH terms AS (
        |  SELECT doc_id AS id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
        |  FROM documents),
        |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2),
        |model AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM tf),
        |doc AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c) AS lp
        |  FROM tf JOIN model USING (term) CROSS JOIN tot GROUP BY id),
        |scored AS (
        |  SELECT d.doc_id AS id, d.source, COALESCE(doc.n_tok, 0) AS n_tok,
        |    ROUND(doc.lp, 6) AS avg_logp
        |  FROM documents d LEFT JOIN doc ON doc.id = d.doc_id),
        |cuts AS (
        |  SELECT source, quantile_cont(avg_logp, 1.0/3) AS p33,
        |    quantile_cont(avg_logp, 2.0/3) AS p66
        |  FROM scored WHERE avg_logp IS NOT NULL GROUP BY source)
        |SELECT s.id, s.source, s.n_tok, s.avg_logp,
        |  CASE WHEN s.avg_logp IS NULL THEN NULL
        |       WHEN s.avg_logp >= c.p66 THEN 'head'
        |       WHEN s.avg_logp >= c.p33 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s LEFT JOIN cuts c USING (source)
        |ORDER BY s.id""".stripMargin) { (s, d) =>
      val src = Tables.documents(s, d).select(col("doc_id").as("id"), col("source"))
      val scored = unigramScores(s, d).join(src, "id")
      val cuts = graft.ops.Percentiles.exactPercentiles(
        scored.filter(col("avg_logp").isNotNull), "source", "avg_logp",
        Seq(1.0 / 3, 2.0 / 3), Seq("p33", "p66"))
      scored.join(broadcast(cuts), Seq("source"), "left")
        .select(col("id"), col("source"), col("n_tok"), col("avg_logp"),
          when(col("avg_logp").isNull, lit(null).cast("string"))
            .when(col("avg_logp") >= col("p66"), lit("head"))
            .when(col("avg_logp") >= col("p33"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy(col("id"))
    },

    // Exact-integer PageRank over a synthetic outlink graph — crawl
    // frontier prioritization (which pages to fetch/keep first), the
    // power-iteration step above q177's edge extraction. Ranks are
    // nano-scaled longs and every contribution is floor-division
    // arithmetic, so all sums are order-independent: bit-identical
    // across engines, partitionings, and addition orders (a double
    // PageRank can't hash-verify). Two deterministic out-edges per doc;
    // every 11th doc is DANGLING and its mass redistributes uniformly.
    // The oracle unrolls the identical three power steps.
    QueryDef.sql(
      "q196_pagerank", {
        def iter(k: Int) =
          s"""dang$k AS (
             |  SELECT CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS dm
             |  FROM p${k - 1} LEFT JOIN outdeg ON p${k - 1}.id = outdeg.src
             |  WHERE d IS NULL),
             |c$k AS (
             |  SELECT e.dst AS id,
             |    CAST(SUM(((p.pr * 85) // 100) // o.d) AS BIGINT) AS contrib
             |  FROM edges e JOIN p${k - 1} p ON p.id = e.src
             |  JOIN outdeg o ON o.src = e.src GROUP BY 1),
             |p$k AS (
             |  SELECT nd.id,
             |    (SELECT base FROM consts) + COALESCE(c.contrib, 0)
             |      + (((SELECT dm FROM dang$k) * 85) // 100) // (SELECT n FROM consts) AS pr
             |  FROM nodes nd LEFT JOIN c$k c USING (id))""".stripMargin
        s"""WITH cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
           |consts AS (SELECT n, ((15 * 1000000000000) // 100) // n AS base FROM cnt),
           |nodes AS (SELECT doc_id AS id FROM documents),
           |edges AS (
           |  SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM consts) AS dst
           |  FROM documents WHERE doc_id % 11 <> 0
           |  UNION ALL
           |  SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM consts)
           |  FROM documents WHERE doc_id % 11 <> 0),
           |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
           |p0 AS (SELECT id, 1000000000000 // (SELECT n FROM consts) AS pr FROM nodes),
           |${(1 to 3).map(iter).mkString(",\n")}
           |SELECT id, CAST(pr AS BIGINT) AS pr_u FROM p3 ORDER BY id""".stripMargin
      }) { (s, d) =>
      import graft.llm.Graphs
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val linked = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      val edges = linked.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 3, lit(n)).as("dst"))
        .unionByName(linked.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 5, lit(n)).as("dst")))
      Graphs.pageRankExact(edges, "src", "dst",
          docs.select(col("doc_id")), "doc_id", iters = 3)
        .orderBy(col("id"))
    },

    // Tokenizer FERTILITY by script — bytes per BPE subword for each
    // language slice of the four-script fixture: the mixture-correction
    // signal multilingual recipes weight by (a script the tokenizer
    // fragments pays more sequence length per byte of content, so
    // token-budget mixing over-samples it unless corrected). Real frozen
    // multilingual BPE (q172's machinery) prices every doc; the oracle
    // re-runs the merge fold over the distinct pre-token vocabulary and
    // rolls up the identical per-source sums.
    QueryDef.sql(
      "q197_bpe_fertility", {
        s"""WITH RECURSIVE mdocs AS ($multiDocsSql),
           |${bpeOraclePrefixOver("t", "", "mdocs")},
           |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc WHERE r = $bpeNumMerges),
           |dw AS (SELECT doc_id, lang, unnest(regexp_extract_all(t, '$bpePreTokRe')) AS w FROM mdocs),
           |ds AS (SELECT doc_id, lang, CAST(SUM(n_sub) AS BIGINT) AS ns
           |       FROM dw JOIN wl USING (w) GROUP BY 1, 2),
           |b AS (SELECT doc_id, lang, CAST(octet_length(encode(t)) AS BIGINT) AS nb FROM mdocs)
           |SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(b.nb) AS BIGINT) AS n_bytes,
           |  CAST(SUM(COALESCE(ds.ns, 0)) AS BIGINT) AS n_subwords,
           |  ROUND(CAST(SUM(b.nb) AS DOUBLE) / SUM(COALESCE(ds.ns, 0)), 6) AS bytes_per_token
           |FROM b LEFT JOIN ds ON ds.doc_id = b.doc_id
           |GROUP BY b.lang ORDER BY b.lang""".stripMargin
      }) { (s, d) =>
      multiDocs(s, d)
        .select(col("lang"),
          length(col("t").cast("binary")).cast("long").as("nb"),
          graft.llm.Bpe.countTokens(col("t")).as("ns"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bytes"),
          sum(col("ns")).as("n_subwords"),
          round(sum(col("nb")).cast("double") / sum(col("ns")), 6).as("bytes_per_token"))
        .orderBy(col("lang"))
    },

    // Right-to-be-forgotten DELETE on the at-rest corpus — the
    // compliance verb beside q122's MERGE: a delete-list (three sources'
    // doomed ids, plus absent keys that must no-op) removes rows from a
    // source-partitioned parquet corpus with a PARTITION-LIMITED rewrite
    // (only partitions holding a doomed key are read and swapped), and
    // the audit frame records per-partition before/deleted/after. The
    // gate reads the corpus BACK after the delete, so n_after verifies
    // the physical rewrite — including that untouched sources kept every
    // row — not just the audit arithmetic.
    QueryDef.sql(
      "q198_corpus_delete",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_orig,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 3 AND source IN ('src0', 'src1', 'src2')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(COUNT(*) - SUM(CASE WHEN doc_id % 17 = 3 AND source IN ('src0', 'src1', 'src2')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import graft.sources.Sinks
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_q198_").toString
      rotateRunDirs("q198", Seq(dir))
      Sinks.writePartitioned(docs, dir + "/corpus", Seq("source"))
      val deletes = docs
        .filter(pmod(col("doc_id"), lit(17)) === 3 &&
          col("source").isin("src0", "src1", "src2"))
        .select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 10000000L).as("doc_id"))) // absent keys: no-op
      val audit = Sinks.deleteByKeys(s, dir + "/corpus", deletes,
        Seq("doc_id"), "source")
      val after = Sinks.readPartitioned(s, dir + "/corpus")
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
        .join(audit.select(col("source"), col("n_deleted")), Seq("source"), "left")
        .join(after, Seq("source"), "left")
        .select(col("source"), col("n_orig"),
          coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy(col("source"))
    },

    // Perceptual IMAGE near-dup detection — the multimodal sibling of
    // q33's SimHash: real PNG encode → ImageIO decode → 64-bit dHash
    // (9×8 integer block-mean grid, row-wise gradient signs) → pigeonhole
    // hamming bucket join (candidate recall 1, never all-pairs; images
    // shuffle as 8-byte sigs, payloads stay in their scan partition). The
    // fixture plants two duplicate classes a byte-exact hash misses: a
    // uniform +3 brightness variant (dHash-invariant ⇒ hamming 0) and a
    // sparse +40 noise variant (a few flipped gradient bits). The oracle
    // replays pixels in closed form, the full grid/bit arithmetic, and
    // brute-force all-pairs — so decode, downscale, hashing AND the
    // bucketed join's exact-recall claim are all pinned (sig1/sig2 ride
    // along, pinning the 64-bit values themselves). doc_id < 400: the
    // verify-bounded codec-family convention (q169/q174); the pair
    // machinery's corpus-scale story is q33/q34's.
    QueryDef.sql(
      "q199_image_dhash",
      """WITH ids AS (SELECT doc_id AS base FROM documents WHERE doc_id < 400),
        |imgs AS (
        |  SELECT base, base AS id FROM ids
        |  UNION ALL SELECT base, base + 1000000 FROM ids WHERE base % 4 = 0
        |  UNION ALL SELECT base, base + 2000000 FROM ids WHERE base % 4 = 1),
        |dims AS (SELECT id, CAST(20 + base % 6 AS BIGINT) AS w,
        |                CAST(16 + base % 5 AS BIGINT) AS h FROM imgs),
        |cb AS (
        |  SELECT id, w, h, c.c // 9 AS ty, c.c % 9 AS tx
        |  FROM dims, (SELECT unnest(range(0, 72)) AS c) c),
        |cb2 AS (
        |  SELECT id, ty, tx, (tx*w)//9 AS xlo, ((tx+1)*w)//9 AS xhi,
        |         (ty*h)//8 AS ylo, ((ty+1)*h)//8 AS yhi
        |  FROM cb),
        |cm AS (
        |  SELECT id, ty, tx,
        |    list_sum(list_transform(range(0, (xhi-xlo)*(yhi-ylo)), i ->
        |      30 + ((id % 1000000)*31 + (xlo + i % (xhi-xlo))*7 + (ylo + i // (xhi-xlo))*13
        |          + (xlo + i % (xhi-xlo))*(ylo + i // (xhi-xlo))*((id % 1000000) % 7 + 1)) % 180
        |      + CASE WHEN id >= 2000000
        |             AND ((xlo + i % (xhi-xlo))*5 + (ylo + i // (xhi-xlo))*3) % 37 = 0
        |             THEN 40 ELSE 0 END
        |      + CASE WHEN id >= 1000000 AND id < 2000000 THEN 3 ELSE 0 END
        |    )) // ((xhi-xlo)*(yhi-ylo)) AS cell
        |  FROM cb2),
        |sl AS (SELECT id, list(cell ORDER BY ty, tx) AS cl FROM cm GROUP BY id),
        |sg AS (SELECT id, list_sum(list_transform(range(0,64), k ->
        |    CASE WHEN cl[CAST((k//8)*9 + (k%8) + 1 AS INT)] > cl[CAST((k//8)*9 + (k%8) + 2 AS INT)]
        |    THEN CAST(1 AS HUGEINT) << CAST(k AS INT) ELSE CAST(0 AS HUGEINT) END)) AS s FROM sl),
        |sigs AS (SELECT id,
        |  CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN s - CAST(18446744073709551616 AS HUGEINT) ELSE s END AS BIGINT) AS sig
        |  FROM sg),
        |pairs AS (
        |  SELECT a.id AS id1, b.id AS id2,
        |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
        |    a.sig AS sig1, b.sig AS sig2
        |  FROM sigs a JOIN sigs b ON a.id < b.id)
        |SELECT id1, id2, hamming, sig1, sig2
        |FROM pairs WHERE hamming <= 8 ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val media = Multimodal.dhashImageTable(s,
        Tables.documents(s, d).filter(col("doc_id") < 400), "doc_id")
      Multimodal.dHashPairs(s, media, maxHamming = 8)
        .orderBy(col("id1"), col("id2"))
    },

    // robots.txt — the crawl-politeness gate that runs BEFORE any fetch
    // (completes the crawl layer: q167 normalize → q200 robots → q168
    // domain caps → q196 frontier ranking). RFC 9309 core without
    // wildcards: grouped User-agent headers, agent-specific groups
    // beating `*`, longest-path-match, Allow-wins-ties, empty-Disallow
    // no-op, unknown directives skipped. The oracle replays the entire
    // parse (line split, comment strip, group-boundary windows, agent
    // precedence) and the verdict argmax over the q167 frontier — rules
    // broadcast, the frontier never all-pairs-scans.
    QueryDef.sql(
      "q200_robots_filter", {
        val robotsSql = robotsFixture.map { case (h, ls) =>
          val txt = ls.map(l => "'" + l.replace("'", "''") + "'")
            .mkString(" || chr(10) || ")
          s"SELECT '$h' AS host, $txt AS txt"
        }.mkString("\n  UNION ALL ")
        s"""WITH robots AS (
           |  $robotsSql),
           |rl AS (SELECT host, generate_subscripts(string_split(txt, chr(10)), 1) AS ln,
           |              unnest(string_split(txt, chr(10))) AS raw FROM robots),
           |cl AS (SELECT host, ln, trim(regexp_replace(raw, '#.*', '')) AS clean FROM rl),
           |d AS (SELECT host, ln,
           |        lower(regexp_extract(clean, '^([A-Za-z-]+)\\s*:', 1)) AS directive,
           |        trim(regexp_extract(clean, '^[A-Za-z-]+\\s*:(.*)$$', 1)) AS value
           |      FROM cl
           |      WHERE lower(regexp_extract(clean, '^([A-Za-z-]+)\\s*:', 1))
           |            IN ('user-agent', 'allow', 'disallow')),
           |g1 AS (SELECT *, (directive = 'user-agent') AS isua FROM d),
           |g2 AS (SELECT *, CASE WHEN isua AND NOT coalesce(
           |          lag(isua) OVER (PARTITION BY host ORDER BY ln), false)
           |        THEN 1 ELSE 0 END AS newg FROM g1),
           |g3 AS (SELECT *, SUM(newg) OVER (PARTITION BY host ORDER BY ln) AS grp FROM g2),
           |agents AS (SELECT host, grp, lower(value) AS ua FROM g3 WHERE isua AND grp >= 1),
           |rules0 AS (SELECT host, grp, value AS rule_path, directive = 'allow' AS is_allow
           |           FROM g3 WHERE NOT isua AND value <> '' AND grp >= 1),
           |gflag AS (SELECT host, grp,
           |            MAX(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END) AS specific,
           |            MAX(CASE WHEN ua = '*' THEN 1 ELSE 0 END) AS star
           |          FROM agents GROUP BY 1, 2),
           |hs AS (SELECT host, MAX(specific) AS has_specific FROM gflag GROUP BY 1),
           |picked AS (SELECT g.host, g.grp FROM gflag g JOIN hs USING (host)
           |           WHERE (has_specific = 1 AND specific = 1)
           |              OR (has_specific = 0 AND star = 1)),
           |rules AS (SELECT r.host, rule_path, is_allow
           |          FROM rules0 r JOIN picked p ON r.host = p.host AND r.grp = p.grp),
           |u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
           |f AS (SELECT doc_id, url,
           |        lower(regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*', ''),
           |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?]*)', 1), ':[0-9]+$$', '')) AS host,
           |        regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*', ''),
           |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/?]*', ''), '^([^?]*)', 1) AS path0
           |      FROM u),
           |f2 AS (SELECT doc_id, url, host,
           |         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path FROM f),
           |cand AS (SELECT doc_id, rule_path, is_allow
           |         FROM f2 JOIN rules r ON f2.host = r.host
           |          AND substr(f2.path, 1, len(rule_path)) = rule_path),
           |rk AS (SELECT doc_id, rule_path, is_allow,
           |         ROW_NUMBER() OVER (PARTITION BY doc_id
           |           ORDER BY len(rule_path) DESC, is_allow DESC, rule_path DESC) AS rn
           |       FROM cand)
           |SELECT f2.doc_id, f2.url, f2.host, f2.path, rk.rule_path,
           |       COALESCE(rk.is_allow, true) AS allowed
           |FROM f2 LEFT JOIN rk ON rk.doc_id = f2.doc_id AND rk.rn = 1
           |ORDER BY f2.doc_id""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      import graft.llm.Urls
      val robots = robotsFixture.map { case (h, ls) => (h, ls.mkString("\n")) }
        .toDF("host", "txt")
      val rules = Urls.robotsRules(robots, "host", "txt", "GraftBot")
      Urls.robotsFilter(
        Tables.documents(s, d).select(col("doc_id"), urlColumn(col("doc_id")).as("url")),
        "doc_id", "url", rules)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // SEMANTIC decontamination — the embedding-space rung of the
    // benchmark-leakage ladder (q87 exact n-grams, q164 fuzzy Jaccard,
    // q201 paraphrase-level): every corpus vector scored against the
    // broadcast benchmark set, argmax bench id as evidence, flagged at
    // max-cos ≥ 0.3. Ranking on round(cos, 4) with smallest-bench-id
    // ties (the q35 discipline) keeps the argmax engine-stable; the
    // map-side partial max means the single exchange carries one row per
    // corpus vector, never the N×B score matrix. The bench side is
    // pinned to replica-0 ids (vec_id < 1e9): an eval suite is FIXED by
    // nature, and letting the GenScale replicas inflate it would measure
    // a quadratic fixture, not the operator (the q104 lesson) — at
    // driver SFs every vec_id is < 1e9, so gate rows are unchanged.
    QueryDef.sql(
      "q201_semantic_decontam",
      """WITH b AS (SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS bv
        |           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1000000000),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings WHERE vec_id % 50 <> 0),
        |s AS (SELECT id, bid, ROUND(list_cosine_similarity(cv, bv), 4) AS cos
        |      FROM c CROSS JOIN b),
        |rk AS (SELECT id, bid, cos,
        |         row_number() OVER (PARTITION BY id ORDER BY cos DESC, bid) AS rn
        |       FROM s)
        |SELECT id AS vec_id, bid AS bench_id, cos, cos >= 0.3 AS contaminated
        |FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") % 50 =!= 0).select(col("vec_id").as("id"), col("embedding").as("vec")),
          emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000000000L)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          threshold = 0.3)
        .select(col("id").as("vec_id"), col("bench_id"), col("cos"), col("contaminated"))
        .orderBy(col("vec_id"))
    },

    // int8 scalar quantization + quantized top-k — the storage rung of
    // the ANN ladder between raw floats (q35) and PQ codes (q130): 4×
    // compression with EXACT integer dot products. Quantization uses
    // floor(x/scale·127 + 0.5), never round() — floor of a double is
    // exact in every engine, so codes, integer norms, and the ranked
    // search all replay bit-for-bit; only the final cosine division is
    // float, ranked at round(·,4) with the nid tiebreak (q35
    // discipline). in_exact marks overlap with the float-exact top-5 —
    // the recall evidence, replayed identically by the oracle.
    QueryDef.sql(
      "q202_int8_quant_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |qz AS (SELECT vec_id,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(v, x -> GREATEST(-127, LEAST(127,
        |                     CAST(floor(x / scale * 127 + 0.5) AS BIGINT)))) END AS qv
        |       FROM sc),
        |qn AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nrm FROM qz),
        |qq AS (SELECT vec_id AS qid, qv AS a, nrm AS na FROM qn WHERE vec_id < 10),
        |cc AS (SELECT vec_id AS nid, qv AS b, nrm AS nb FROM qn),
        |s AS (SELECT qid, nid,
        |        CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |             ELSE CAST(list_sum(list_transform(range(1, len(a)+1),
        |                    i -> a[CAST(i AS INT)]*b[CAST(i AS INT)])) AS DOUBLE)
        |                  / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END AS qcos
        |      FROM qq CROSS JOIN cc WHERE qid <> nid),
        |rk AS (SELECT qid, nid, qcos,
        |         row_number() OVER (PARTITION BY qid ORDER BY ROUND(qcos, 4) DESC, nid) AS rn
        |       FROM s),
        |ex AS (SELECT qid, nid FROM (
        |        SELECT q.vec_id AS qid, c.vec_id AS nid,
        |          row_number() OVER (PARTITION BY q.vec_id
        |            ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 4) DESC, c.vec_id) AS rn
        |        FROM e q CROSS JOIN e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |       WHERE rn <= 5)
        |SELECT rk.qid, rk.nid, ROUND(rk.qcos, 4) AS qcos,
        |       (ex.nid IS NOT NULL) AS in_exact
        |FROM rk LEFT JOIN ex ON ex.qid = rk.qid AND ex.nid = rk.nid
        |WHERE rk.rn <= 5
        |ORDER BY rk.qid, rk.nid""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qtop = Similarity.int8TopK(queries, corpus, 5)
      val exact = {
        val qv = queries.select(col("id").as("qid"), col("vec").cast("array<double>").as("qv"))
        val cv = corpus.select(col("id").as("nid"), col("vec").cast("array<double>").as("nv"))
        val sc = cv.crossJoin(broadcast(qv)).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(Similarity.cosine(col("qv"), col("nv")), 4).as("cos"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
        sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("qid"), col("nid"))
      }
      qtop.join(exact.withColumn("in_exact", lit(true)), Seq("qid", "nid"), "left")
        .select(col("qid"), col("nid"), round(col("qcos"), 4).as("qcos"),
          coalesce(col("in_exact"), lit(false)).as("in_exact"))
        .orderBy(col("qid"), col("nid"))
    },

    // Mojibake repair — the encoding-fix stage every web corpus runs
    // before any tokenization (CCNet/ftfy's core case: UTF-8 read as
    // cp1252 and re-encoded, `café` → `cafÃ©`, `’` → `â€™`). The repair
    // table is GENERATED from the JVM cp1252 codec (one source of truth;
    // the oracle gets the identical table as literals), applied as a
    // sequential longest-first chained replace — pure projection, no
    // shuffle. The fixture plants real round-trip damage (mojibakeOf of
    // a letters+punctuation phrase) on 2 of 3 docs; the oracle replays
    // plant, chain, and the chars-saved arithmetic, pinning the repaired
    // text verbatim.
    QueryDef.sql(
      "q203_mojibake_fix", {
        val clean = "café – ‘déjà vu’ … «naïve» °C ±1 €5 ‰ œuf Žš ™"
        val moji = graft.llm.Encoding.mojibakeOf(clean).replace("'", "''")
        val chain = graft.llm.Encoding.fixMojibakeSql("orig")
        s"""WITH t AS (SELECT doc_id,
           |  text || CASE WHEN doc_id % 3 = 0 THEN '' ELSE ' $moji' END AS orig
           |  FROM documents),
           |f AS (SELECT doc_id, orig, $chain AS fixed FROM t)
           |SELECT doc_id, fixed,
           |  CAST(length(orig) - length(fixed) AS BIGINT) AS n_saved,
           |  (length(orig) - length(fixed)) > 0 AS repaired
           |FROM f ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import graft.llm.Encoding
      val clean = "café – ‘déjà vu’ … «naïve» °C ±1 €5 ‰ œuf Žš ™"
      val moji = Encoding.mojibakeOf(clean)
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(""))
              .otherwise(lit(" " + moji))).as("orig"))
        // name the repaired text ONCE and derive n_saved from the named
        // column: the previous projection spelled the ~120-deep replace
        // chain twice (fixed + inside n_saved), and codegen subexpression
        // elimination does not fold two copies of a chain that deep —
        // CollapseProject keeps a multi-referenced non-trivial alias
        // materialized, so this form runs the chain once per row
        .select(col("doc_id"), length(col("orig")).as("__len_orig"),
          Encoding.fixMojibake(col("orig")).as("fixed"))
        .select(col("doc_id"), col("fixed"),
          (col("__len_orig") - length(col("fixed"))).cast("long").as("n_saved"))
        .select(col("doc_id"), col("fixed"), col("n_saved"),
          (col("n_saved") > 0).as("repaired"))
        .orderBy(col("doc_id"))
    },

    // SFT conversation validation + chat-template rendering — the
    // instruction-tuning layer's intake gate: role alternation,
    // user-first/assistant-last framing, empty-turn rejection, and the
    // templated form token pricing runs on. The fixture derives
    // multi-turn conversations from documents and PLANTS each defect
    // class (doc%7=3: repeated role; doc%11=5: assistant-first;
    // doc%13=7: empty first turn; odd turn counts: user-last). The
    // oracle replays turn synthesis, the lag-window alternation check,
    // the ordered template fold, and every verdict column.
    QueryDef.sql(
      "q204_conversation_validate",
      s"""WITH $sftTurnsSql,
        |lg AS (SELECT *, coalesce(role = lag(role) OVER (PARTITION BY doc_id ORDER BY idx), false) AS same_as_prev FROM tt),
        |agg AS (SELECT doc_id AS conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |        bool_or(idx = 0 AND role = 'user') AS starts_user,
        |        NOT bool_or(same_as_prev) AS alternates,
        |        bool_or(trim(content) = '') AS has_empty,
        |        arg_max(role, idx) AS last_role,
        |        string_agg('<|' || role || '|>' || content, '' ORDER BY idx) AS rendered
        |        FROM lg GROUP BY doc_id)
        |SELECT conv_id, n_turns, starts_user, alternates, has_empty,
        |  (last_role = 'assistant') AS ends_assistant,
        |  (starts_user AND alternates AND NOT has_empty
        |    AND last_role = 'assistant') AS valid,
        |  rendered,
        |  CAST(CASE WHEN length(trim(rendered)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(rendered), '\\s+')) END AS BIGINT) AS n_tok
        |FROM agg ORDER BY conv_id""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      Chat.validateConversations(sftTurns(s, d), "doc_id", "idx", "role", "content")
        .select(col("conv_id"), col("n_turns"), col("starts_user"),
          col("alternates"), col("has_empty"), col("ends_assistant"),
          col("valid"), col("rendered"), col("n_tok"))
        .orderBy(col("conv_id"))
    },

    // SFT loss-mask token accounting — pricing an instruction corpus in
    // TRAINABLE tokens (assistant turns only; user/prompt turns are
    // loss-masked): total vs trainable token mass, assistant turn count,
    // and the trainable fraction per conversation. The mixture operators
    // (q149/q182) should budget on THIS number — a long-prompt corpus
    // can be 10× its useful size. Same planted turn fixture as q204; one
    // grouped aggregate, map-side partial sums.
    QueryDef.sql(
      "q205_sft_loss_mask",
      s"""WITH $sftTurnsSql,
        |tok AS (SELECT doc_id, role,
        |  CAST(CASE WHEN length(trim(content)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(content), '\\s+')) END AS BIGINT) AS nt
        |  FROM tt)
        |SELECT doc_id AS conv_id,
        |  CAST(SUM(nt) AS BIGINT) AS n_tok_total,
        |  CAST(SUM(CASE WHEN role = 'assistant' THEN nt ELSE 0 END) AS BIGINT) AS n_tok_trainable,
        |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant_turns,
        |  CASE WHEN SUM(nt) = 0 THEN NULL
        |       ELSE ROUND(CAST(SUM(CASE WHEN role = 'assistant' THEN nt ELSE 0 END) AS DOUBLE)
        |            / SUM(nt), 6) END AS trainable_frac
        |FROM tok GROUP BY doc_id ORDER BY conv_id""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      Chat.lossMaskCounts(sftTurns(s, d), "doc_id", "idx", "role", "content")
        .select(col("conv_id"), col("n_tok_total"), col("n_tok_trainable"),
          col("n_assistant_turns"), col("trainable_frac"))
        .orderBy(col("conv_id"))
    },

    // Rule-based sentence segmentation — the unit sentence-level dedup,
    // C4 line rules, and chunking want. Token-walk splitter (NO regex
    // lookbehind, so RE2/DuckDB replays it): boundary = token ending
    // .!? or a multibyte terminator 。！？؟… (+closing quotes/brackets,
    // ASCII or fullwidth) that is neither a listed abbreviation nor a
    // single capital initial; decimals never match (they end in a
    // digit); the trailing unterminated fragment is kept with
    // terminated = false. CJK/Arabic scriptio continua is force-split
    // after terminator runs BEFORE tokenizing (no space after 。 in real
    // prose). Planted prose tails exercise every guard (abbrevs,
    // initials, 3.14, quotes, ?!, and a multi-script CJK/Arabic/ellipsis
    // tail). Oracle replays the force-split, tokenization, the guard
    // battery, the boundary-prefix-sum window, and the ordered sentence
    // fold verbatim.
    QueryDef.sql(
      "q206_sentence_split", {
        val abbrevs = TextAnalysis.SentenceAbbrevs.map(a => s"'$a'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, text || CASE doc_id % 4
           |    WHEN 0 THEN ' Dr. Smith met Mr. Jones on Jan. 5. It cost 3.14 dollars.'
           |    WHEN 1 THEN ' Was it fast? It was! He said "done." Then quiet.'
           |    WHEN 3 THEN ' E. Codd wrote it etc. and more i.e. relational stuff. Fin!'
           |    ELSE ' 你好世界。这很快！真的吗？「引用。」هل؟ نعم. 然后…完' END AS prose
           |  FROM documents),
           |tp AS (SELECT doc_id, regexp_replace(trim(prose),
           |         '([。！？؟…]+[」』）】》〉”’]*)', '\\1 ', 'g') AS prose FROM t),
           |tk AS (SELECT doc_id, unnest(string_split_regex(prose, '\\s+')) AS tok,
           |       generate_subscripts(string_split_regex(prose, '\\s+'), 1) AS tidx FROM tp),
           |tk2 AS (SELECT * FROM tk WHERE tok <> ''),
           |fl AS (SELECT doc_id, tidx, tok,
           |        CASE WHEN regexp_matches(tok, '[.!?。！？؟…]["'')\\]」』）】》〉”’]*$$')
           |              AND NOT lower(tok) IN ($abbrevs)
           |              AND NOT regexp_matches(tok, '^[A-Z][.]$$')
           |        THEN 1 ELSE 0 END AS bnd
           |       FROM tk2),
           |sx AS (SELECT *, CAST(coalesce(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY tidx
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS sent_idx FROM fl)
           |SELECT doc_id, sent_idx, string_agg(tok, ' ' ORDER BY tidx) AS sentence,
           |  CAST(COUNT(*) AS BIGINT) AS n_tok, (MAX(bnd) = 1) AS terminated
           |FROM sx GROUP BY doc_id, sent_idx ORDER BY doc_id, sent_idx""".stripMargin
      }) { (s, d) =>
      val prose = concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit(" Dr. Smith met Mr. Jones on Jan. 5. It cost 3.14 dollars."))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            lit(" Was it fast? It was! He said \"done.\" Then quiet."))
          .when(pmod(col("doc_id"), lit(4)) === 3,
            lit(" E. Codd wrote it etc. and more i.e. relational stuff. Fin!"))
          .otherwise(lit(" 你好世界。这很快！真的吗？「引用。」هل؟ نعم. 然后…完")))
      TextAnalysis.splitSentences(
          Tables.documents(s, d).select(col("doc_id"), prose.as("prose")),
          "doc_id", "prose")
        .select(col("id").as("doc_id"), col("sent_idx"), col("sentence"),
          col("n_tok"), col("terminated"))
        .orderBy(col("doc_id"), col("sent_idx"))
    },

    // Preference-pair (RLHF/DPO) validation — the q204 framing contract
    // generalized to chosen/rejected sides: shared-prefix consistency
    // (idx+role+content of every turn before the final completion),
    // divergent-completion check, per-side framing verdicts, all
    // coalesced to definite booleans. Planted defects: doc%5=2 identical
    // completions, doc%7=3 mismatched prompt turn on the rejected side,
    // doc%11=5 missing rejected side, doc%13=7 empty chosen turn. Oracle
    // replays the side aggregates (prefix string compare stands in for
    // the md5 fingerprint — equality verdicts are identical), the
    // arg_max last-completion pick, and every coalesce.
    QueryDef.sql(
      "q207_dpo_validate",
      s"""WITH $dpoTurnsSql,
        |fl AS (SELECT *,
        |        coalesce(role = lag(role) OVER (PARTITION BY doc_id, side ORDER BY idx),
        |          false) AS same_prev,
        |        MAX(idx) OVER (PARTITION BY doc_id, side) AS max_idx FROM dt),
        |sd AS (SELECT doc_id, side,
        |        coalesce(MAX(CASE WHEN idx = 0 THEN (role = 'user') END), false) AS starts_user,
        |        NOT MAX(same_prev) AS alternates,
        |        coalesce(MAX(coalesce(trim(content) = '', true)), false) AS has_empty,
        |        coalesce(arg_max(role, idx) = 'assistant', false) AS ends_assistant,
        |        coalesce(string_agg(CASE WHEN idx < max_idx THEN
        |            CAST(idx AS VARCHAR) || chr(1) || coalesce(role, '') || chr(1) ||
        |            coalesce(content, '') END, chr(10) ORDER BY idx), '') AS prefix_str,
        |        arg_max(content, idx) AS last_content
        |       FROM fl GROUP BY doc_id, side),
        |sv AS (SELECT *,
        |        (starts_user AND alternates AND NOT has_empty AND ends_assistant) AS side_valid
        |       FROM sd),
        |pr AS (SELECT doc_id AS pair_id,
        |        coalesce(MAX(CASE WHEN side = 'chosen' THEN true END), false) AS has_chosen,
        |        coalesce(MAX(CASE WHEN side = 'rejected' THEN true END), false) AS has_rejected,
        |        coalesce(MAX(CASE WHEN side = 'chosen' THEN side_valid END), false) AS chosen_valid,
        |        coalesce(MAX(CASE WHEN side = 'rejected' THEN side_valid END), false) AS rejected_valid,
        |        MAX(CASE WHEN side = 'chosen' THEN prefix_str END) AS cfp,
        |        MAX(CASE WHEN side = 'rejected' THEN prefix_str END) AS rfp,
        |        MAX(CASE WHEN side = 'chosen' THEN last_content END) AS cl,
        |        MAX(CASE WHEN side = 'rejected' THEN last_content END) AS rl
        |       FROM sv GROUP BY doc_id)
        |SELECT pair_id,
        |  (has_chosen AND has_rejected) AS has_both,
        |  coalesce(cfp = rfp, false) AS prompts_match,
        |  coalesce(trim(cl) <> trim(rl), false) AS divergent,
        |  chosen_valid, rejected_valid,
        |  (has_chosen AND has_rejected AND chosen_valid AND rejected_valid
        |    AND coalesce(cfp = rfp, false)
        |    AND coalesce(trim(cl) <> trim(rl), false)) AS valid
        |FROM pr ORDER BY pair_id""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      Chat.validatePreferencePairs(dpoTurns(s, d), "doc_id", "side", "idx",
          "role", "content")
        .select(col("pair_id"), col("has_both"), col("prompts_match"),
          col("divergent"), col("chosen_valid"), col("rejected_valid"), col("valid"))
        .orderBy(col("pair_id"))
    },

    // Context-window trim — fit each conversation into a token budget by
    // keeping the longest SUFFIX of whole turns (the standard SFT trim:
    // recent turns carry the signal, turns never split). Every row keeps
    // a definite kept boolean via the reverse-cumulative token window;
    // NULL/empty content counts zero tokens. Budget 8 over the shared
    // SFT fixture exercises full keeps, partial trims, and empty-turn
    // zero-cost rows. Oracle replays the ws-token count (q205's twin)
    // and the idx-DESC running-sum window verbatim.
    QueryDef.sql(
      "q208_context_trim",
      s"""WITH $sftTurnsSql,
        |tok AS (SELECT doc_id, idx, role, content,
        |  CAST(coalesce(CASE WHEN length(trim(content)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(content), '\\s+')) END, 0) AS BIGINT) AS n_tok
        |  FROM tt)
        |SELECT doc_id AS conv_id, idx, role, content, n_tok,
        |  (SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY idx DESC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 8) AS kept
        |FROM tok ORDER BY conv_id, idx""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      Chat.fitToTokenBudget(sftTurns(s, d), "doc_id", "idx", "role", "content",
          maxTokens = 8L)
        .orderBy(col("conv_id"), col("idx"))
    },

    // q208's trim re-priced in REAL subword tokens — the pluggable
    // countTokens lane of fitToTokenBudget (the q157/q161/q162 lesson
    // applied to the chat layer: a ws-token budget misfits an actual
    // model context by the corpus's fertility factor, the number q197
    // measures). Same suffix-of-whole-turns window; n_tok is now the
    // frozen-BPE count of each turn's content, and the oracle re-derives
    // every count from the per-pre-token encode replay (empty/NULL
    // content keeps 0 through the LEFT join).
    QueryDef.sql(
      "q209_context_trim_bpe",
      s"""WITH RECURSIVE
        |$sftTurnsSql,
        |${bpeOraclePrefixOver("content", "", "tt")},
        |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc WHERE r = $bpeNumMerges),
        |dw AS (SELECT doc_id, idx, unnest(regexp_extract_all(content, '$bpePreTokRe')) AS w FROM tt),
        |sums AS (SELECT doc_id, idx, SUM(n_sub) AS s FROM dw JOIN wl USING (w) GROUP BY doc_id, idx),
        |tok AS (SELECT t.doc_id, t.idx, t.role, t.content,
        |        CAST(coalesce(s.s, 0) AS BIGINT) AS n_tok
        |        FROM tt t LEFT JOIN sums s ON s.doc_id = t.doc_id AND s.idx = t.idx)
        |SELECT doc_id AS conv_id, idx, role, content, n_tok,
        |  (SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY idx DESC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 24) AS kept
        |FROM tok ORDER BY conv_id, idx""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      Chat.fitToTokenBudget(sftTurns(s, d), "doc_id", "idx", "role", "content",
          maxTokens = 24L, countTokens = c => graft.llm.Bpe.countTokens(c))
        .orderBy(col("conv_id"), col("idx"))
    },

    // Template-collision guard — content containing the template's own
    // delimiters (`<|assistant|>` inside a user turn) renders
    // indistinguishably from a real turn boundary: the classic
    // chat-template injection hazard every production SFT intake flags.
    // Planted collisions: doc%9=4 an opening `<|assistant|>` forged into
    // turn 0, doc%9=7 a bare closing `|>` in turn 1. The flag is its own
    // auditable boolean (policy decides drop-vs-escape); `valid` is
    // unchanged q204 framing — the oracle replays both over the
    // overlaid fixture.
    QueryDef.sql(
      "q210_template_collision",
      s"""WITH $sftTurnsSql,
        |ct AS (SELECT doc_id, idx, role,
        |        CASE WHEN doc_id % 9 = 4 AND idx = 0
        |               THEN content || ' see <|assistant|>sneaky'
        |             WHEN doc_id % 9 = 7 AND idx = 1
        |               THEN content || ' tag|> trailing'
        |             ELSE content END AS content FROM tt),
        |lg AS (SELECT *, coalesce(role = lag(role) OVER (PARTITION BY doc_id ORDER BY idx), false) AS same_as_prev FROM ct),
        |agg AS (SELECT doc_id AS conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |        bool_or(idx = 0 AND role = 'user') AS starts_user,
        |        NOT bool_or(same_as_prev) AS alternates,
        |        bool_or(trim(content) = '') AS has_empty,
        |        bool_or(contains(content, '<|') OR contains(content, '|>')) AS has_template_collision,
        |        arg_max(role, idx) AS last_role
        |        FROM lg GROUP BY doc_id)
        |SELECT conv_id, n_turns, has_template_collision,
        |  (starts_user AND alternates AND NOT has_empty
        |    AND last_role = 'assistant') AS valid
        |FROM agg ORDER BY conv_id""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      val overlaid = sftTurns(s, d).withColumn("content",
        when(pmod(col("doc_id"), lit(9)) === 4 && col("idx") === 0,
          concat(col("content"), lit(" see <|assistant|>sneaky")))
          .when(pmod(col("doc_id"), lit(9)) === 7 && col("idx") === 1,
            concat(col("content"), lit(" tag|> trailing")))
          .otherwise(col("content")))
      Chat.validateConversations(overlaid, "doc_id", "idx", "role", "content")
        .select(col("conv_id"), col("n_turns"), col("has_template_collision"),
          col("valid"))
        .orderBy(col("conv_id"))
    },

    // JPEG decode lane — real crawl image corpora are overwhelmingly
    // JPEG, so the pixel path must consume it. Decode is LOSSY (library-
    // dependent DCT), so the gate is guard-bounded, not pixel-exact
    // (q113's pattern): real ImageIO JPEGs of a smooth DC-dominated
    // gradient fixture, decoded by the same decodeGray lane every other
    // image op uses; dimensions/pixel-count exact, mean within 3 gray
    // levels of the closed-form fixture mean, min/max within ringing
    // tolerance. The oracle expects literal-true on every row; exact
    // per-pixel error bounds are pinned in LlmSpec.
    QueryDef.sql(
      "q212_jpeg_decode",
      """SELECT doc_id AS media_id, true AS decode_ok, true AS dims_ok,
        |  true AS npx_ok, true AS mean_close, true AS range_ok
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      import graft.llm.Multimodal
      val media = Multimodal.syntheticJpegTable(s,
        Tables.documents(s, d).select(col("doc_id")), "doc_id")
      val w = (lit(8) + pmod(col("media_id"), lit(5))).cast("int")
      val h = (lit(6) + pmod(col("media_id"), lit(4))).cast("int")
      val base = pmod(col("media_id"), lit(64)).cast("double")
      val expMean = base + (w - 1).cast("double") * 2.0 + (h - 1).cast("double") * 1.5
      val expMax = base + (w - 1).cast("double") * 4.0 + (h - 1).cast("double") * 3.0
      Multimodal.imageFeatures(s, media)
        .select(col("media_id"),
          col("width").isNotNull.as("decode_ok"),
          (col("width") === w && col("height") === h).as("dims_ok"),
          (col("n_px") === (w * h).cast("long")).as("npx_ok"),
          (abs(col("mean_gray") - expMean) <= 3.0).as("mean_close"),
          (col("min_gray").cast("double") >= base - 8.0 &&
            col("max_gray").cast("double") <= expMax + 8.0).as("range_ok"))
        .orderBy(col("media_id"))
    },

    // First-fit-decreasing packing — the PRODUCTION no-split packer
    // (q89's concat-then-chunk lets documents span windows; FFD places
    // whole documents with BOS/EOS separator accounting, the shape SFT/
    // eval batching needs). Budget 96 at this fixture's lengths exercises
    // both the multi-doc bins and the oversize-own-bin path (16 docs
    // exceed the budget). The oracle replays the IDENTICAL fold item by
    // item as a recursive CTE over (eff DESC, id) — Spark's histogram-
    // batched fold is provably the same placement sequence, so every
    // (bin, slot, bin_off) cell matches exactly.
    QueryDef.sql(
      "q213_ffd_packing",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) + 2 AS eff
        |  FROM documents),
        |ord AS (
        |  SELECT doc_id, n_tokens, eff,
        |         row_number() OVER (ORDER BY eff DESC, doc_id) AS rn FROM t),
        |ffd AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
        |         CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS eff,
        |         CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS slot,
        |         CAST(NULL AS BIGINT) AS bin_off,
        |         CAST([] AS BIGINT[]) AS rem, CAST([] AS BIGINT[]) AS slots,
        |         CAST([] AS BIGINT[]) AS offs
        |  UNION ALL
        |  SELECT x.orn, x.od, x.ont, x.oe,
        |    CASE WHEN x.fit IS NULL THEN CAST(len(x.rem) AS BIGINT) ELSE x.fit - 1 END,
        |    CASE WHEN x.fit IS NULL THEN 0 ELSE x.slots[CAST(x.fit AS INT)] END,
        |    CASE WHEN x.fit IS NULL THEN 0 ELSE x.offs[CAST(x.fit AS INT)] END,
        |    CASE WHEN x.fit IS NULL THEN list_append(x.rem, 96 - x.oe)
        |         ELSE list_transform(x.rem, (r, i) -> CASE WHEN i = x.fit THEN r - x.oe ELSE r END) END,
        |    CASE WHEN x.fit IS NULL THEN list_append(x.slots, CAST(1 AS BIGINT))
        |         ELSE list_transform(x.slots, (s, i) -> CASE WHEN i = x.fit THEN s + 1 ELSE s END) END,
        |    CASE WHEN x.fit IS NULL THEN list_append(x.offs, x.oe)
        |         ELSE list_transform(x.offs, (s, i) -> CASE WHEN i = x.fit THEN s + x.oe ELSE s END) END
        |  FROM (
        |    SELECT f.rem, f.slots, f.offs, o.rn AS orn, o.doc_id AS od,
        |      o.n_tokens AS ont, o.eff AS oe,
        |      NULLIF(CAST(list_position(list_transform(f.rem, r -> r >= o.eff), true) AS BIGINT), 0) AS fit
        |    FROM ffd f JOIN ord o ON o.rn = f.rn + 1) x)
        |SELECT doc_id, n_tokens, eff, bin, slot, bin_off, eff > 96 AS oversize
        |FROM ffd WHERE rn > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens"))
      graft.llm.Packing.ffdPack(toks, "doc_id", "n_tokens", budget = 96L,
          sepTokens = 2L)
        .select(col("id").as("doc_id"), col("n_tokens"), col("eff"),
          col("bin"), col("slot"), col("bin_off"), col("oversize"))
        .orderBy(col("doc_id"))
    },

    // Template-collision SANITIZE — the apply step q210's flag defers:
    // escape every marker occurrence (`<|` → `<\|`, `|>` → `|\>`) ahead
    // of render, with auditable per-conversation counts; the re-run
    // validator must come back collision-free on the same planted
    // fixture, and `rendered` pins the escaped text itself. Deterministic
    // string work — the oracle replays the overlay, both replaces, the
    // count arithmetic, and the ordered template fold cell-exactly.
    QueryDef.sql(
      "q215_template_sanitize",
      s"""WITH $sftTurnsSql,
        |ct AS (SELECT doc_id, idx, role,
        |        CASE WHEN doc_id % 9 = 4 AND idx = 0
        |               THEN content || ' see <|assistant|>sneaky'
        |             WHEN doc_id % 9 = 7 AND idx = 1
        |               THEN content || ' tag|> trailing'
        |             ELSE content END AS content FROM tt),
        |san AS (SELECT doc_id, idx, role,
        |        replace(replace(content, '<|', '<\\|'), '|>', '|\\>') AS content,
        |        CAST((length(content) - length(replace(content, '<|', ''))) / 2
        |           + (length(content) - length(replace(content, '|>', ''))) / 2
        |          AS BIGINT) AS n_markers
        |        FROM ct),
        |lg AS (SELECT *, coalesce(role = lag(role) OVER (PARTITION BY doc_id ORDER BY idx), false) AS same_as_prev FROM san),
        |agg AS (SELECT doc_id AS conv_id,
        |        CAST(SUM(n_markers) AS BIGINT) AS n_collisions,
        |        CAST(SUM(CASE WHEN n_markers > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_turns_affected,
        |        bool_or(idx = 0 AND role = 'user') AS starts_user,
        |        NOT bool_or(same_as_prev) AS alternates,
        |        bool_or(trim(content) = '') AS has_empty,
        |        bool_or(contains(content, '<|') OR contains(content, '|>')) AS has_template_collision,
        |        arg_max(role, idx) AS last_role,
        |        string_agg('<|' || role || '|>' || content, '' ORDER BY idx) AS rendered
        |        FROM lg GROUP BY doc_id)
        |SELECT conv_id, n_collisions, n_turns_affected, has_template_collision,
        |  (starts_user AND alternates AND NOT has_empty
        |    AND last_role = 'assistant') AS valid,
        |  rendered
        |FROM agg ORDER BY conv_id""".stripMargin) { (s, d) =>
      import graft.llm.Chat
      val overlaid = sftTurns(s, d).withColumn("content",
        when(pmod(col("doc_id"), lit(9)) === 4 && col("idx") === 0,
          concat(col("content"), lit(" see <|assistant|>sneaky")))
          .when(pmod(col("doc_id"), lit(9)) === 7 && col("idx") === 1,
            concat(col("content"), lit(" tag|> trailing")))
          .otherwise(col("content")))
      val san = Chat.sanitizeTemplateMarkers(overlaid, "doc_id", "idx", "role",
        "content", policy = "escape")
      val audit = san.groupBy(col("conv_id")).agg(
        sum(col("n_markers")).as("n_collisions"),
        sum(when(col("n_markers") > 0, 1L).otherwise(0L)).as("n_turns_affected"))
      Chat.validateConversations(san, "conv_id", "idx", "role", "content")
        .join(audit, "conv_id")
        .select(col("conv_id"), col("n_collisions"), col("n_turns_affected"),
          col("has_template_collision"), col("valid"), col("rendered"))
        .orderBy(col("conv_id"))
    },

    // JPEG COMPOSITION — the q212 decode lane driven through the two
    // downstream consumers it exists for: perceptual dedup (q199's
    // dHash machinery) and ViT tiles (q160's), both over REAL JPEG
    // payloads. Guard-bounded like q212 (lossy decode is library-
    // dependent): container invariance — the same pixel plane hashes
    // within 6/64 bits of its PNG twin (measured max 4) — planted
    // brightness/noise variants still pair through the pigeonhole
    // bucket join, and every 4×4 tile grid is complete with means
    // within 3 gray of the closed-form plane (measured max 0.84).
    // Exact distributions pinned in LlmSpec; oracle expects literal
    // verdicts per base image.
    QueryDef.sql(
      "q214_jpeg_composition",
      """SELECT doc_id AS media_id,
        |  true AS container_invariant,
        |  CASE WHEN doc_id % 4 <= 1 THEN true END AS variant_paired,
        |  true AS tiles_ok
        |FROM documents WHERE doc_id < 400 ORDER BY media_id""".stripMargin) { (s, d) =>
      import graft.llm.Multimodal
      val ids = Tables.documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"))
      val jpeg = Multimodal.dhashJpegTable(s, ids, "doc_id")
      val png = Multimodal.dhashImageTable(s, ids, "doc_id")
      val base = pmod(col("media_id"), lit(1000000L))
      // container invariance per FAMILY (base + its variants)
      val inv = Multimodal.dHashSigs(s, jpeg).select(col("media_id"), col("sig").as("sj"))
        .join(Multimodal.dHashSigs(s, png).select(col("media_id"), col("sig").as("sp")),
          "media_id")
        .select(base.as("media_id"),
          (bit_count(col("sj").bitwiseXOR(col("sp"))) <= 6).as("inv_ok"))
        .groupBy(col("media_id")).agg(min(col("inv_ok")).as("container_invariant"))
      // planted variants pair through the JPEG lane (bucket join recall)
      val paired = Multimodal.dHashPairs(s, jpeg, maxHamming = 12)
        .filter(pmod(col("id1"), lit(1000000L)) === pmod(col("id2"), lit(1000000L)))
        .select(pmod(col("id1"), lit(1000000L)).as("media_id"))
        .distinct().withColumn("__paired", lit(true))
      // 4×4 tiles over the linear-plane JPEG table: complete grid, means
      // within 3 gray of the closed form
      val w = lit(8) + pmod(col("media_id"), lit(5))
      val h = lit(6) + pmod(col("media_id"), lit(4))
      val expMean = pmod(col("media_id"), lit(64)).cast("double") +
        (col("tile_x") * 4 + (col("tw") - 1) / 2.0) * 4.0 +
        (col("tile_y") * 4 + (col("th") - 1) / 2.0) * 3.0
      val tiles = Multimodal.imageTiles(s,
          Multimodal.syntheticJpegTable(s, ids, "doc_id"), 4, 4)
        .select(col("media_id"),
          (abs(col("mean_gray") - expMean) <= 3.0).as("t_ok"))
        .groupBy(col("media_id"))
        .agg(min(col("t_ok")).as("__means_ok"), count(lit(1)).as("__n_tiles"))
        .select(col("media_id"), (col("__means_ok") &&
          col("__n_tiles") === (ceil(w / 4.0) * ceil(h / 4.0)).cast("long"))
          .as("tiles_ok"))
      inv
        .join(paired, Seq("media_id"), "left")
        .join(tiles, "media_id")
        .select(col("media_id"), col("container_invariant"),
          when(pmod(col("media_id"), lit(4)) <= 1, col("__paired"))
            .as("variant_paired"),
          col("tiles_ok"))
        .orderBy(col("media_id"))
    }
  )

  /** q204/q205's shared SFT turn fixture as oracle CTEs ending in
    * tt(doc_id, idx, role, content) — planted defects: doc%7=3 repeated
    * role at turn 1, doc%11=5 assistant-first, doc%13=7 empty first
    * turn, odd turn counts end on user.
    */
  private lazy val sftTurnsSql: String =
    """t0 AS (SELECT doc_id, text, 2 + doc_id % 5 AS n FROM documents),
      |tr AS (SELECT doc_id, text, CAST(unnest(range(0, n)) AS INT) AS idx FROM t0),
      |r0 AS (SELECT *, CASE WHEN doc_id % 11 = 5 THEN 'assistant' ELSE 'user' END AS role0 FROM tr),
      |tt AS (SELECT doc_id, idx,
      |        CASE WHEN doc_id % 7 = 3 AND idx = 1 THEN role0
      |             WHEN idx % 2 = 0 THEN role0
      |             ELSE (CASE WHEN role0 = 'user' THEN 'assistant' ELSE 'user' END) END AS role,
      |        CASE WHEN doc_id % 13 = 7 AND idx = 0 THEN ''
      |             ELSE 'm' || CAST(idx AS VARCHAR) || ' ' || substr(text, idx*16+1, 12) END AS content
      |      FROM r0)""".stripMargin

  /** The identical turn fixture as a DataFrame (Column twin of
    * [[sftTurnsSql]]).
    */
  private def sftTurns(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val role0 = when(pmod(col("doc_id"), lit(11)) === 5, lit("assistant"))
      .otherwise(lit("user"))
    val other = when(role0 === "user", lit("assistant")).otherwise(lit("user"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), (lit(1) + pmod(col("doc_id"), lit(5))).cast("int"))).as("idx"))
      .select(col("doc_id"), col("idx"),
        when(pmod(col("doc_id"), lit(7)) === 3 && col("idx") === 1, role0)
          .otherwise(when(pmod(col("idx"), lit(2)) === 0, role0).otherwise(other))
          .as("role"),
        when(pmod(col("doc_id"), lit(13)) === 7 && col("idx") === 0, lit(""))
          .otherwise(concat(lit("m"), col("idx").cast("string"), lit(" "),
            col("text").substr(col("idx") * 16 + 1, lit(12)))).as("content"))
  }

  /** q207's DPO pair fixture as oracle CTEs ending in
    * dt(doc_id, side, idx, role, content): 4 turns per side
    * (user/assistant/user/assistant), completions diverge at idx 3.
    * Planted defects: doc%5=2 identical completions, doc%7=3 rejected
    * prompt turn differs, doc%11=5 rejected side missing, doc%13=7
    * empty chosen turn 1.
    */
  private lazy val dpoTurnsSql: String =
    """d0 AS (SELECT doc_id, text, unnest(['chosen', 'rejected']) AS side FROM documents),
      |d1 AS (SELECT * FROM d0 WHERE NOT (doc_id % 11 = 5 AND side = 'rejected')),
      |d2 AS (SELECT doc_id, side, text, CAST(unnest(range(0, 4)) AS INT) AS idx FROM d1),
      |dt AS (SELECT doc_id, side, idx,
      |        CASE WHEN idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |        CASE WHEN doc_id % 13 = 7 AND idx = 1 AND side = 'chosen' THEN ''
      |             WHEN idx = 0 THEN 'p0 ' || substr(text, 1, 10)
      |             WHEN idx = 1 THEN 'a1 ' || substr(text, 5, 10)
      |             WHEN idx = 2 THEN (CASE WHEN doc_id % 7 = 3 AND side = 'rejected'
      |                  THEN 'p2-alt ' ELSE 'p2 ' END) || substr(text, 11, 10)
      |             ELSE CASE WHEN side = 'chosen' OR doc_id % 5 = 2
      |                  THEN 'win ' || substr(text, 1, 12)
      |                  ELSE 'lose ' || substr(text, 3, 12) END END AS content
      |      FROM d2)""".stripMargin

  /** The identical DPO turn fixture as a DataFrame (Column twin of
    * [[dpoTurnsSql]]).
    */
  private def dpoTurns(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(array(lit("chosen"), lit("rejected"))).as("side"))
      .filter(!(pmod(col("doc_id"), lit(11)) === 5 && col("side") === "rejected"))
      .select(col("doc_id"), col("side"), col("text"),
        explode(sequence(lit(0), lit(3))).as("idx"))
      .select(col("doc_id"), col("side"), col("idx"),
        when(pmod(col("idx"), lit(2)) === 0, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        when(pmod(col("doc_id"), lit(13)) === 7 && col("idx") === 1 &&
            col("side") === "chosen", lit(""))
          .when(col("idx") === 0, concat(lit("p0 "), col("text").substr(1, 10)))
          .when(col("idx") === 1, concat(lit("a1 "), col("text").substr(5, 10)))
          .when(col("idx") === 2, concat(
            when(pmod(col("doc_id"), lit(7)) === 3 && col("side") === "rejected",
              lit("p2-alt ")).otherwise(lit("p2 ")),
            col("text").substr(11, 10)))
          .otherwise(
            when(col("side") === "chosen" || pmod(col("doc_id"), lit(5)) === 2,
              concat(lit("win "), col("text").substr(1, 12)))
              .otherwise(concat(lit("lose "), col("text").substr(3, 12))))
          .as("content"))

  /** q178/q191's synthetic crawl page (planted ~10% boilerplate). */
  private def crawlPageHtml: org.apache.spark.sql.Column =
    concat(lit("<html><head><title>"),
      when(pmod(col("doc_id"), lit(10)) === 7, lit("Landing"))
        .otherwise(concat(lit("Doc "), col("doc_id").cast("string"))),
      lit("</title><script>var x = 1;</script><style>.c { color: red }</style>"),
      lit("</head><body><p>"),
      when(pmod(col("doc_id"), lit(10)) === 7, lit(crawlBoilerplate)).otherwise(col("text")),
      lit("</p>&nbsp;fin</body></html>"))

  /** The q178 chain from the documents table (builds the page inline). */
  private def crawlToPackedChain(s: org.apache.spark.sql.SparkSession, d: String,
      html: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    crawlToPackedChainFrom(Tables.documents(s, d).filter(col("doc_id") < 250)
      .select(col("doc_id"), html.as("html")))

  /** The shared crawl→packed chain over any (doc_id, html) frame:
    * extraction → ws-token quality gate → exact dedup → BPE pricing →
    * 512-token greedy packing (q178's body, reused verbatim by the
    * WARC-fed twin q191).
    */
  private def crawlToPackedChainFrom(
      pages: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.llm.{Html, Dedup}
    val ext = pages.select(col("doc_id"), Html.extractText(col("html")).as("t"))
    val kept = ext.filter(TextAnalysis.tokenCountWs(col("t")) >= 25)
      .withColumn("f", TextAnalysis.md5Fingerprint(col("t")))
    val keepIds = Dedup.exact(kept, col("f"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val surv = kept.join(keepIds, Seq("doc_id")).select(col("doc_id"), col("t"))
    val toks = surv.select(col("doc_id"),
      graft.llm.Bpe.countTokens(col("t")).as("n_tokens"))
    graft.llm.Packing.packSequences(toks, "n_tokens", 512L, Seq(col("doc_id")))
      .orderBy(col("doc_id"))
  }

  /** q178/q191's shared oracle: the whole crawl→packed chain as one
    * WITH-RECURSIVE replay (page build, strip chain, quality gate, exact
    * dedup, BPE merge fold, greedy packing).
    */
  private lazy val crawlToPackedOracleSql: String = {
        import graft.llm.Html
        val entityFold = Html.Entities.foldLeft("no_tags") { case (acc, (e, r)) =>
          s"replace($acc, '$e', '${r.replace("'", "''")}')" }
        val boiler = crawlBoilerplate
        s"""WITH RECURSIVE
           |page AS (
           |  SELECT doc_id,
           |    '<html><head><title>' ||
           |    CASE WHEN doc_id % 10 = 7 THEN 'Landing'
           |         ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END ||
           |    '</title><script>var x = 1;</script><style>.c { color: red }</style>' ||
           |    '</head><body><p>' ||
           |    CASE WHEN doc_id % 10 = 7 THEN '$boiler' ELSE text END ||
           |    '</p>&nbsp;fin</body></html>' AS html
           |  FROM documents WHERE doc_id < 250),
           |s1 AS (SELECT doc_id,
           |    regexp_replace(regexp_replace(regexp_replace(html,
           |      '${Html.Comment}', ' ', 'g'),
           |      '${Html.ScriptBlock}', ' ', 'g'),
           |      '${Html.StyleBlock}', ' ', 'g') AS no_blocks
           |  FROM page),
           |s2 AS (SELECT doc_id,
           |    regexp_replace(no_blocks, '${Html.Tag}', ' ', 'g') AS no_tags
           |  FROM s1),
           |ext AS (SELECT doc_id,
           |    trim(regexp_replace($entityFold, '[ \\t\\n\\f\\r]+', ' ', 'g')) AS t
           |  FROM s2),
           |kept AS (SELECT doc_id, t FROM ext
           |  WHERE CAST(CASE WHEN length(trim(t)) = 0 THEN 0
           |        ELSE len(string_split_regex(trim(t), '\\s+')) END AS BIGINT) >= 25),
           |fpp AS (SELECT doc_id, t,
           |    md5(regexp_replace(lower(trim(t)), '\\s+', ' ', 'g')) AS f FROM kept),
           |surv AS (SELECT doc_id, t FROM
           |  (SELECT doc_id, t, MIN(doc_id) OVER (PARTITION BY f) AS mn FROM fpp)
           |  WHERE doc_id = mn),
           |${bpeOraclePrefixOver("t", "", "surv")},
           |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sub FROM enc WHERE r = $bpeNumMerges),
           |dw AS (SELECT doc_id, unnest(regexp_extract_all(t, '$bpePreTokRe')) AS w FROM surv),
           |sums AS (SELECT doc_id, SUM(n_sub) AS ssum FROM dw JOIN wl USING (w) GROUP BY doc_id),
           |tt AS (SELECT s.doc_id, CAST(COALESCE(m.ssum, 0) AS BIGINT) AS n_tokens
           |       FROM surv s LEFT JOIN sums m USING (doc_id)),
           |cc AS (SELECT doc_id, n_tokens,
           |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM tt)
           |SELECT doc_id, n_tokens, cum - n_tokens AS start_off,
           |  (cum - n_tokens) // 512 AS bin, (cum - n_tokens) % 512 AS bin_off,
           |  CASE WHEN n_tokens > 0 THEN (cum - 1) // 512
           |       ELSE (cum - n_tokens) // 512 END AS end_bin
           |FROM cc ORDER BY doc_id""".stripMargin
  }

  private lazy val defsTail: Seq[QueryDef] = Seq(

    // INCREMENTAL line dedup (q173's first-owner rule as an ingest loop,
    // the q141 proof pattern at LINE grain): two epochs by doc parity
    // against the persistent (fp, epoch) index — a footer line seen in
    // epoch 0 stays dropped in epoch 1, within-batch ownership is the
    // synthetic (doc·10⁶ + idx) keep-min, and the oracle replays the
    // whole (epoch, lid) precedence order from scratch with NOT EXISTS.
    QueryDef.sql(
      "q179_line_dedup_incremental",
      """WITH p AS (
        |  SELECT doc_id, CAST(doc_id % 2 AS BIGINT) AS ep,
        |    regexp_replace(text, '((?:[A-Za-z0-9]+ ){5})', e'\\1\n', 'g')
        |      || e'\n' || 'visit ' || source || ' homepage now' AS page
        |  FROM documents),
        |l0 AS (
        |  SELECT doc_id, ep, unnest(string_split(page, chr(10))) AS line,
        |    generate_subscripts(string_split(page, chr(10)), 1) - 1 AS i
        |  FROM p),
        |l AS (SELECT doc_id, ep, CAST(i AS BIGINT) AS line_idx, line,
        |        doc_id * 1000000 + i AS lid, md5(trim(line)) AS fp
        |      FROM l0 WHERE trim(line) <> '')
        |SELECT doc_id, line_idx, ep,
        |  NOT EXISTS (SELECT 1 FROM l l2 WHERE l2.fp = l.fp
        |    AND (l2.ep < l.ep OR (l2.ep = l.ep AND l2.lid < l.lid))) AS kept
        |FROM l ORDER BY doc_id, line_idx""".stripMargin) { (s, d) =>
      import graft.llm.Lines
      val page = concat(
        regexp_replace(col("text"), "((?:[A-Za-z0-9]+ ){5})", "$1\n"),
        lit("\nvisit "), col("source"), lit(" homepage now"))
      val aug = CacheRegistry.persist(Tables.documents(s, d).select(col("doc_id"), page.as("page")))
      val dir = java.nio.file.Files.createTempDirectory("graft_linededup_idx_").toString
      rotateRunDirs("q179", Seq(dir))
      val results = (0 until 2).map { b =>
        Lines.lineDedupIncrement(
            aug.filter(pmod(col("doc_id"), lit(2)) === b), "doc_id", "page",
            dir, epoch = b)
          .withColumn("ep", lit(b.toLong))
      }
      results.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("line_idx"), col("ep"), col("kept"))
        .orderBy(col("doc_id"), col("line_idx"))
    },

    // Interpolated bigram-LM quality score — the rung above q150's
    // unigram on the perplexity-filter ladder (the deterministic core of
    // CCNet's KenLM step): per position p = λ·P(cur|prev) + (1−λ)·P(cur),
    // corpus-as-its-own-model MLE, mean log p over a doc's n−1 bigram
    // positions. λ = 0.75 so the complement 0.25 is exact in binary on
    // both engines (1.0−0.7 and DECIMAL 0.3 would differ in the last
    // ulp). One bigram pass + one unigram pass; only count triplets
    // shuffle. Docs with < 2 tokens surface as (0, NULL), like q150.
    QueryDef.sql(
      "q180_bigram_logprob",
      """WITH w AS (
        |  SELECT doc_id AS id, list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x)) AS ws
        |  FROM documents),
        |t AS (SELECT id, unnest(ws) AS term FROM w),
        |uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cu FROM t GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM t),
        |bp AS (
        |  SELECT id, unnest(list_transform(range(1, len(ws)), i -> [ws[i], ws[i+1]])) AS b
        |  FROM w WHERE len(ws) >= 2),
        |bf AS (SELECT id, b[1] AS prev, b[2] AS cur, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM bp GROUP BY 1, 2, 3),
        |bm AS (SELECT prev, cur, CAST(SUM(c) AS BIGINT) AS cb FROM bf GROUP BY 1, 2),
        |cx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM bf GROUP BY 1),
        |doc AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_big,
        |    SUM(c * ln(0.75 * CAST(cb AS DOUBLE) / cp + 0.25 * CAST(cu AS DOUBLE) / t)) / SUM(c) AS lp
        |  FROM bf JOIN bm USING (prev, cur) JOIN cx USING (prev)
        |    JOIN uni ON uni.term = bf.cur CROSS JOIN tot
        |  GROUP BY id)
        |SELECT d.doc_id AS id, COALESCE(doc.n_big, 0) AS n_big,
        |  ROUND(doc.lp, 6) AS avg_logp
        |FROM documents d LEFT JOIN doc ON doc.id = d.doc_id
        |ORDER BY id""".stripMargin) { (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text", lambda = 0.75)
        .orderBy(col("id"))
    },

    // Keep-BEST-in-cluster duplicate resolution over q137's portable
    // near-dup clusters: within each connected component retain the
    // highest-scoring member (token count here — the "keep the longest
    // duplicate" production policy), smallest id on ties, singletons keep
    // themselves. The oracle replays the full transitive closure with the
    // recursive CTE plus the identical argmax window, so the POLICY — not
    // just the clustering — is pinned hash-exact.
    QueryDef.sql(
      "q181_keep_best_cluster", {
        val recPrefix = portableOraclePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")
        s"""$recPrefix,
           |hsets AS (
           |  SELECT doc_id, list_distinct(list(h)) AS hset FROM hv GROUP BY doc_id),
           |jscored AS (
           |  SELECT id1, id2,
           |    CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS inter,
           |    CAST(len(ha.hset) AS BIGINT) AS n1, CAST(len(hb.hset) AS BIGINT) AS n2
           |  FROM cand JOIN hsets ha ON ha.doc_id = id1 JOIN hsets hb ON hb.doc_id = id2),
           |near AS (
           |  SELECT id1, id2 FROM jscored
           |  WHERE CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5),
           |fp AS (
           |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
           |  FROM documents),
           |exact_pairs AS (
           |  SELECT a.doc_id AS id1, b.doc_id AS id2
           |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
           |sym AS (
           |  SELECT id1 AS a, id2 AS b FROM near
           |  UNION SELECT id2, id1 FROM near
           |  UNION SELECT id1, id2 FROM exact_pairs
           |  UNION SELECT id2, id1 FROM exact_pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
           |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
           |sc AS (
           |  SELECT doc_id AS id,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS score
           |  FROM documents),
           |lab AS (
           |  SELECT sc.id, COALESCE(c.component, sc.id) AS component, sc.score
           |  FROM sc LEFT JOIN comp c ON c.id = sc.id)
           |SELECT id, component, score,
           |  (row_number() OVER (PARTITION BY component ORDER BY score DESC, id) = 1) AS kept
           |FROM lab ORDER BY id""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("score"))
      val comp = Dedup.dedupClustersPortable(docs, "doc_id", "text", jaccardThreshold = 0.5)
      Dedup.keepBestFromComponents(scored, "doc_id", "score", comp)
        .orderBy(col("id"))
    },

    // Token-budget epoch solver (q149's temperature mixture extended to
    // MULTI-epoch allocation with a repetition cap): sources tiered into
    // two named domains plus a lumped web tier so the gate exercises both
    // branches — the small tiers hit the 3-epoch cap and water-filling
    // pushes their freed budget into the uncapped web tier. The oracle
    // unrolls the identical four rounds as chained CTEs.
    QueryDef.sql(
      "q182_token_budget_epochs", {
        val iter = (k: Int) =>
          s"""p$k AS (
             |  SELECT SUM(CASE WHEN NOT capped THEN w END) AS wsum,
             |    CAST(40000 AS DOUBLE) - COALESCE(SUM(CASE WHEN capped THEN alloc END), 0.0) AS rem
             |  FROM i${k - 1}),
             |i$k AS (
             |  SELECT source, n_tok, w, cap,
             |    (capped OR raw >= cap) AS capped, LEAST(raw, cap) AS alloc
             |  FROM (SELECT i${k - 1}.*, CASE WHEN capped THEN alloc
             |          WHEN wsum > 0 AND rem > 0 THEN w / wsum * rem
             |          ELSE 0.0 END AS raw
             |        FROM i${k - 1} CROSS JOIN p$k))""".stripMargin
        s"""WITH tiers AS (
           |  SELECT CASE WHEN source IN ('src0', 'src1') THEN source ELSE 'web' END AS source,
           |    unnest(regexp_extract_all(text, '[A-Za-z]+')) AS term
           |  FROM documents),
           |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tiers GROUP BY 1),
           |w AS (SELECT source, n_tok, pow(n_tok, 0.5) AS w,
           |        CAST(n_tok AS DOUBLE) * 3.0 AS cap FROM tot),
           |ws AS (SELECT SUM(w) AS wsum_all FROM w),
           |i0 AS (SELECT source, n_tok, w, cap, false AS capped, 0.0 AS alloc FROM w),
           |${(1 to 4).map(iter).mkString(",\n")}
           |SELECT source, n_tok, ROUND(w / wsum_all, 6) AS weight,
           |  ROUND(alloc, 4) AS alloc_tok, ROUND(alloc / n_tok, 6) AS epochs, capped
           |FROM i4 CROSS JOIN ws ORDER BY source""".stripMargin
      }) { (s, d) =>
      val toks = Tables.documents(s, d).select(
        when(col("source").isin("src0", "src1"), col("source"))
          .otherwise(lit("web")).as("source"),
        size(TextAnalysis.wordTokens(col("text"))).cast("long").as("n_tokens"))
      graft.llm.Mixing.tokenBudgetEpochs(toks, "n_tokens", "source",
          alpha = 0.5, budgetTokens = 40000L, maxEpochs = 3.0, iters = 4)
        .orderBy(col("source"))
    },

    // BYTE-feature trained lang-ID — the non-Latin twin of q165: the
    // `[A-Za-z]+` word path presents ZERO features for CJK/Cyrillic/Arabic
    // text (the one operator whose whole purpose is telling those
    // languages apart), so this head trains on uppercase-hex byte
    // 3-grams (ByteNgrams kernel — the fastText feature shape) over a
    // four-script fixture built identically on both engines. Held-out
    // split doc_id % 5 = 0; LlmSpec asserts the held-out accuracy is
    // 100% (the scripts are byte-disjoint), proving non-Latin labels
    // separate — not just that the arithmetic replays.
    QueryDef.sql(
      "q183_nb_langid_bytes", {
        val tok = (src: String) => byteNgramSql("t", 3)
        s"""WITH mdocs AS ($multiDocsSql),
           |train AS (SELECT * FROM mdocs WHERE doc_id % 5 <> 0),
           |ttok AS (SELECT lang AS label, unnest(${tok("train")}) AS term FROM train),
           |tcnt AS (SELECT label,
           |           CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 256 AS bucket,
           |           CAST(COUNT(*) AS BIGINT) AS c
           |         FROM ttok GROUP BY 1, 2),
           |tot AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM tcnt GROUP BY 1),
           |docs AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS nd FROM train GROUP BY 1),
           |ndt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndt FROM train),
           |grid AS (SELECT d.label, b.bucket, COALESCE(t.n, 0) AS n, d.nd
           |         FROM docs d LEFT JOIN tot t USING (label)
           |         CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) b),
           |wts AS (SELECT g.label, CAST(g.bucket AS BIGINT) AS bucket,
           |          CAST(ROUND(ln((COALESCE(c.c, 0) + 0.5) / (g.n + 0.5 * 256)) * 1e9, 0) AS BIGINT) AS w_u,
           |          CAST(ROUND(ln(g.nd / ndt.ndt) * 1e9, 0) AS BIGINT) AS prior_u
           |        FROM grid g LEFT JOIN tcnt c ON c.label = g.label AND c.bucket = g.bucket
           |        CROSS JOIN ndt),
           |dtok AS (SELECT doc_id, unnest(${tok("mdocs")}) AS term FROM mdocs),
           |db AS (SELECT doc_id,
           |         CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 256 AS bucket,
           |         CAST(COUNT(*) AS BIGINT) AS c
           |       FROM dtok GROUP BY 1, 2),
           |sc AS (SELECT db.doc_id, w.label, CAST(SUM(db.c) AS BIGINT) AS n_tok,
           |         CAST(MAX(w.prior_u) + SUM(db.c * w.w_u) AS BIGINT) AS score_u
           |       FROM db JOIN wts w USING (bucket) GROUP BY 1, 2),
           |rk AS (SELECT *,
           |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rn,
           |         LEAD(label) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS ru,
           |         LEAD(score_u) OVER (PARTITION BY doc_id ORDER BY score_u DESC, label) AS rus
           |       FROM sc)
           |SELECT m.doc_id, m.lang AS true_lang, COALESCE(r.n_tok, 0) AS n_tok,
           |  r.label AS predicted, r.score_u, r.ru AS runner_up,
           |  r.score_u - r.rus AS margin_u,
           |  COALESCE(r.label = m.lang, false) AS correct
           |FROM mdocs m LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r USING (doc_id)
           |ORDER BY m.doc_id""".stripMargin
      }) { (s, d) =>
      val m = multiDocs(s, d)
      val bytes3: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => TextAnalysis.byteNgrams(c, 3)
      val model = graft.llm.Classify.nbTrain(
        m.filter(pmod(col("doc_id"), lit(5)) =!= 0), "lang", "t",
        buckets = 256, alpha = 0.5, tokens = bytes3)
      graft.llm.Classify.nbClassify(m, "doc_id", "t", model,
          buckets = 256, tokens = bytes3)
        .join(m.select(col("doc_id").as("id"), col("lang").as("true_lang")), Seq("id"))
        .select(col("id").as("doc_id"), col("true_lang"), col("n_tok"),
          col("predicted"), col("score_u"), col("runner_up"), col("margin_u"),
          coalesce(col("predicted") === col("true_lang"), lit(false)).as("correct"))
        .orderBy(col("doc_id"))
    },

    // BYTE-feature DSIR importance weights — q153's resampling machinery
    // on byte 2-grams over the four-script fixture, target = the zh
    // slice: with word features every non-Latin document scores
    // (n_tok=0, NULL); here every document carries features and the
    // weights genuinely separate scripts.
    QueryDef.sql(
      "q184_dsir_bytes",
      s"""WITH mdocs AS ($multiDocsSql),
         |toks AS (SELECT doc_id AS id, lang = 'zh' AS is_target,
         |           unnest(${byteNgramSql("t", 2)}) AS term
         |         FROM mdocs),
         |bc AS (
         |  SELECT id, is_target,
         |    CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 256 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM toks GROUP BY 1, 2, 3),
         |tgt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS tc FROM bc WHERE is_target GROUP BY 1),
         |cor AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM bc WHERE is_target),
         |ct AS (SELECT CAST(SUM(c) AS DOUBLE) AS ct FROM bc),
         |doc AS (
         |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |    SUM(c * ln(((COALESCE(tc, 0) + 0.5) / (tt + 128.0)) /
         |               ((cc + 0.5) / (ct + 128.0)))) / SUM(c) AS w
         |  FROM bc JOIN cor USING (bucket) LEFT JOIN tgt USING (bucket)
         |       CROSS JOIN tt CROSS JOIN ct
         |  GROUP BY id)
         |SELECT m.doc_id AS id, COALESCE(doc.n_tok, 0) AS n_tok,
         |  ROUND(doc.w, 6) AS dsir_logw
         |FROM mdocs m LEFT JOIN doc ON doc.id = m.doc_id
         |ORDER BY id""".stripMargin) { (s, d) =>
      graft.llm.Mixing.dsirWeights(multiDocs(s, d), "doc_id", "t",
          col("lang") === "zh", buckets = 256, alpha = 0.5,
          tokens = c => TextAnalysis.byteNgrams(c, 2))
        .orderBy(col("id"))
    },

    // BYTE-feature unigram LM score — q150's corpus-as-its-own-model
    // perplexity filter on byte 3-grams over the four-script fixture: a
    // byte-LM prices EVERY script (the word-token leg prices non-Latin
    // text at n_tok=0/NULL), which is what the quantile-selection and
    // mixing layers need for multilingual corpora.
    QueryDef.sql(
      "q185_unigram_logprob_bytes",
      s"""WITH mdocs AS ($multiDocsSql),
         |terms AS (SELECT doc_id AS id, unnest(${byteNgramSql("t", 3)}) AS term FROM mdocs),
         |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1, 2),
         |model AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM tf),
         |doc AS (
         |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |    SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c) AS lp
         |  FROM tf JOIN model USING (term) CROSS JOIN tot GROUP BY id)
         |SELECT m.doc_id AS id, COALESCE(doc.n_tok, 0) AS n_tok,
         |  ROUND(doc.lp, 6) AS avg_logp
         |FROM mdocs m LEFT JOIN doc ON doc.id = m.doc_id
         |ORDER BY id""".stripMargin) { (s, d) =>
      TextAnalysis.unigramLogProb(multiDocs(s, d), "doc_id", "t",
          tokens = c => TextAnalysis.byteNgrams(c, 3))
        .orderBy(col("id"))
    },

    // STREAMING quality-quantile selection against a generationally
    // FROZEN model — the scale-safe v2 of q170 (the CCNet shape: the
    // reference LM is frozen; documents are scored ONCE on arrival and
    // never re-scored). Three staged batches (doc_id % 3) with
    // generationEvery = 2 exercise all three trigger shapes: batch 0
    // boots generation 0 on its own counts/scores, batch 1 reuses the
    // frozen generation-0 summary (model + cutoff; out-of-vocabulary
    // terms drop), batch 2 is a real boundary — generation 1 folds
    // batches 0-1's term counts and freezes the cutoff over their
    // arrival scores. Snapshots are keep-set DELTAS (each batch's docs
    // only). The oracle replays all three generations from scratch —
    // frozen semantics, so the replay is three independent score/cutoff
    // chains, not a cumulative re-score.
    QueryDef.sql(
      "q186_stream_quality_frozen", {
        def tfOf(sfx: String, w: String) =
          s"""u$sfx AS (SELECT doc_id AS id FROM documents $w),
             |tf$sfx AS (
             |  SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
             |        FROM documents $w)
             |  GROUP BY 1, 2)""".stripMargin
        def scoreOf(sfx: String, tfSfx: String, mSfx: String) =
          s"""sc$sfx AS (
             |  SELECT u$tfSfx.id, COALESCE(d.n_tok, 0) AS n_tok, d.lp AS avg_logp
             |  FROM u$tfSfx LEFT JOIN (
             |    SELECT id, CAST(SUM(c) AS BIGINT) AS n_tok,
             |      ROUND(SUM(c * ln(CAST(ct AS DOUBLE) / t)) / SUM(c), 6) AS lp
             |    FROM tf$tfSfx JOIN m$mSfx USING (term) CROSS JOIN t$mSfx GROUP BY id) d
             |  USING (id))""".stripMargin
        s"""WITH
           |${tfOf("0", "WHERE doc_id % 3 = 0")},
           |${tfOf("1", "WHERE doc_id % 3 = 1")},
           |${tfOf("2", "WHERE doc_id % 3 = 2")},
           |m0 AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tf0 GROUP BY 1),
           |t0 AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t FROM m0),
           |${scoreOf("0", "0", "0")},
           |cut0 AS (SELECT quantile_cont(avg_logp, 0.4) AS cutoff FROM sc0 WHERE avg_logp IS NOT NULL),
           |${scoreOf("1", "1", "0")},
           |m1 AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct
           |       FROM (SELECT * FROM tf0 UNION ALL SELECT * FROM tf1) GROUP BY 1),
           |t1 AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t FROM m1),
           |cut1 AS (SELECT quantile_cont(avg_logp, 0.4) AS cutoff
           |         FROM (SELECT avg_logp FROM sc0 UNION ALL SELECT avg_logp FROM sc1)
           |         WHERE avg_logp IS NOT NULL),
           |${scoreOf("2", "2", "1")},
           |k0 AS (SELECT CAST(0 AS BIGINT) AS batch_id, id, n_tok, avg_logp,
           |         COALESCE(avg_logp >= cutoff, false) AS kept FROM sc0 CROSS JOIN cut0),
           |k1 AS (SELECT CAST(1 AS BIGINT) AS batch_id, id, n_tok, avg_logp,
           |         COALESCE(avg_logp >= cutoff, false) AS kept FROM sc1 CROSS JOIN cut0),
           |k2 AS (SELECT CAST(2 AS BIGINT) AS batch_id, id, n_tok, avg_logp,
           |         COALESCE(avg_logp >= cutoff, false) AS kept FROM sc2 CROSS JOIN cut1)
           |SELECT * FROM k0 UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2
           |ORDER BY batch_id, id""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val staged = stageModSplits(corpus, d, "q186", 3)
      val base = java.nio.file.Files.createTempDirectory("graft_q186_").toString
      rotateRunDirs("q186", Seq(base))
      TextAnalysis.qualityQuantileStreamingFrozen(s, staged, corpus.schema,
          "doc_id", "text", q = 0.4, base + "/state", base + "/out",
          generationEvery = 2)
        .select(col("batch_id").cast("long").as("batch_id"), col("id"),
          col("n_tok"), col("avg_logp"), col("kept"))
        .orderBy(col("batch_id"), col("id"))
    },

    // WARC container ingest — the crawl layer run from AT-REST crawl
    // bytes: synthetic pages (the q175 page shape + the q167 messy URLs)
    // are serialized into a real multi-member .warc.gz (warcinfo lead
    // record, one gzip member per record, one deliberately
    // length-forged trailer), read back through the byte-walking record
    // parser, and the extracted HTML runs the q175 strip chain. The
    // oracle reconstructs every record directly from the documents table
    // (same builders), plus the warcinfo and forged-trailer rows by
    // construction — so record framing, payload recovery, the HTTP
    // split, the corruption guard, AND the downstream extraction are all
    // pinned in one hash.
    QueryDef.sql(
      "q187_warc_ingest", {
        val entityFold = graft.llm.Html.Entities.foldLeft("no_tags") {
          case (acc, (e, r)) =>
            val rq = r.replace("'", "''")
            s"replace($acc, '$e', '$rq')"
        }
        val titleFold = graft.llm.Html.Entities.foldLeft(
          "regexp_extract(html, '(?s)<title[^>]*>(.*?)</title>', 1)") {
          case (acc, (e, r)) =>
            val rq = r.replace("'", "''")
            s"replace($acc, '$e', '$rq')"
        }
        s"""WITH p AS (
           |  SELECT doc_id, $urlGenSql AS url,
           |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
           |    ' &amp; co</title><script>var a = 1;</script>' ||
           |    '<!-- note --></head><body><p>' || text ||
           |    '</p><a href="/x">x</a>&nbsp;end</body></html>' AS html
           |  FROM documents WHERE doc_id < 250),
           |s1 AS (SELECT doc_id, url, html,
           |    regexp_replace(regexp_replace(regexp_replace(html,
           |      '${graft.llm.Html.Comment}', ' ', 'g'),
           |      '${graft.llm.Html.ScriptBlock}', ' ', 'g'),
           |      '${graft.llm.Html.StyleBlock}', ' ', 'g') AS no_blocks
           |  FROM p),
           |s2 AS (SELECT doc_id, url, html,
           |    regexp_replace(no_blocks, '${graft.llm.Html.Tag}', ' ', 'g') AS no_tags
           |  FROM s1),
           |resp AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS record_idx,
           |    'response' AS warc_type, url, CAST(200 AS INT) AS http_status, true AS ok,
           |    $titleFold AS title,
           |    trim(regexp_replace($entityFold, '[ \\t\\n\\f\\r]+', ' ', 'g')) AS text,
           |    CAST(len(regexp_extract_all(
           |      regexp_replace(html, '${graft.llm.Html.Comment}', ' ', 'g'),
           |      '(?i)<a[ \\t\\n\\f\\r>]')) AS BIGINT) AS n_links
           |  FROM s2),
           |info AS (
           |  SELECT CAST(0 AS BIGINT) AS record_idx, 'warcinfo' AS warc_type,
           |    CAST(NULL AS VARCHAR) AS url, CAST(NULL AS INT) AS http_status, true AS ok,
           |    CAST(NULL AS VARCHAR) AS title, CAST(NULL AS VARCHAR) AS text,
           |    CAST(NULL AS BIGINT) AS n_links),
           |forged AS (
           |  SELECT CAST((SELECT COUNT(*) + 1 FROM p) AS BIGINT) AS record_idx,
           |    'response' AS warc_type, 'urn:forged:0' AS url,
           |    CAST(NULL AS INT) AS http_status, false AS ok,
           |    CAST(NULL AS VARCHAR) AS title, CAST(NULL AS VARCHAR) AS text,
           |    CAST(NULL AS BIGINT) AS n_links)
           |SELECT * FROM info UNION ALL SELECT * FROM resp UNION ALL SELECT * FROM forged
           |ORDER BY record_idx""".stripMargin
      }) { (s, d) =>
      import graft.llm.Html
      import graft.sources.Warc
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; co</title><script>var a = 1;</script>"),
        lit("<!-- note --></head><body><p>"), col("text"),
        lit("</p><a href=\"/x\">x</a>&nbsp;end</body></html>"))
      val pages = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"), urlColumn(col("doc_id")).as("url"), html.as("html"))
        .orderBy(col("doc_id")).coalesce(1)
      val dir = java.nio.file.Files.createTempDirectory("graft_q187_").toString
      rotateRunDirs("q187", Seq(dir))
      Warc.writeWarcGz(pages, "url", "html", dir + "/warc", forgeTrailer = true)
      val isResp = col("warc_type") === "response" && col("ok")
      Warc.readWarc(s, dir + "/warc")
        .select(col("record_idx"), col("warc_type"), col("url"),
          col("http_status"), col("ok"),
          when(isResp, Html.title(col("html"))).as("title"),
          when(isResp, Html.extractText(col("html"))).as("text"),
          when(isResp, Html.linkCount(col("html"))).as("n_links"))
        .orderBy(col("record_idx"))
    },

    // Audio mono-mix + integer resample — the two PCM steps every
    // ASR-prep pipeline runs between container parse (q169) and framing
    // (q107): stereo 16-bit WAVs (multilingual text as the waveform, so
    // negative samples are exercised) are parsed, channel-averaged to
    // mono (floor division), then rate-converted 8 kHz → 6 kHz by
    // nearest index and 8 kHz → 12 kHz by exact-integer linear
    // interpolation. The oracle recovers every s16le sample from
    // hex(encode(…)) and replays the index maps and interpolation
    // arithmetic cell-for-cell — output rows are integer SAMPLES, so
    // the comparison is value-grade, not digest-grade.
    QueryDef.sql(
      "q188_audio_resample", {
        def by(off: Int) =
          s"((strpos('0123456789ABCDEF', substr(h, 4*CAST(k AS INT)+${off * 2 + 1}, 1))-1)*16" +
            s" + (strpos('0123456789ABCDEF', substr(h, 4*CAST(k AS INT)+${off * 2 + 2}, 1))-1))"
        val sample =
          s"CASE WHEN ${by(1)} >= 128 THEN ${by(0)} + 256*${by(1)} - 65536 " +
            s"ELSE ${by(0)} + 256*${by(1)} END"
        s"""WITH mdocs AS ($multiDocsSql),
           |src AS (SELECT doc_id, rpad(t, 256, 'x') AS p FROM mdocs WHERE doc_id < 120),
           |b AS (SELECT doc_id, substr(hex(encode(p)), 1, 512) AS h,
           |        least(octet_length(encode(p)), 256) AS nb FROM src),
           |sm AS (SELECT doc_id, list_transform(range(0, nb // 2), k -> $sample) AS sams FROM b),
           |mo AS (SELECT doc_id, list_transform(range(0, len(sams) // 2), g ->
           |    CAST(FLOOR((sams[2*CAST(g AS INT)+1] + sams[2*CAST(g AS INT)+2]) / 2.0) AS INT)) AS mono FROM sm),
           |mr0 AS (SELECT doc_id, mono, unnest(range(0, len(mono))) AS i FROM mo),
           |mr AS (SELECT doc_id AS media_id, 'mono' AS kind, CAST(i AS BIGINT) AS idx,
           |        CAST(mono[CAST(i AS INT)+1] AS INT) AS sample FROM mr0),
           |nr0 AS (SELECT doc_id, mono, unnest(range(0, (len(mono)*6000) // 8000)) AS i FROM mo),
           |nr AS (SELECT doc_id AS media_id, 'near' AS kind, CAST(i AS BIGINT) AS idx,
           |        CAST(mono[CAST((i*8000) // 6000 AS INT) + 1] AS INT) AS sample FROM nr0),
           |lr0 AS (SELECT doc_id, mono, unnest(range(0, (len(mono)*12000) // 8000)) AS i FROM mo),
           |lr AS (SELECT doc_id AS media_id, 'lin' AS kind, CAST(i AS BIGINT) AS idx,
           |        CAST(FLOOR((mono[CAST(i*8000 // 12000 AS INT)+1] * (12000 - (i*8000 - (i*8000 // 12000)*12000))
           |              + mono[least(CAST(i*8000 // 12000 AS INT)+2, len(mono))] * (i*8000 - (i*8000 // 12000)*12000)) / 12000.0) AS INT) AS sample FROM lr0)
           |SELECT * FROM mr UNION ALL SELECT * FROM nr UNION ALL SELECT * FROM lr
           |ORDER BY media_id, kind, idx""".stripMargin
      }) { (s, d) =>
      val header = lit(Multimodal.wavHeaderBytes(8000, 2, 16, 256))
      val payload = concat(header, rpad(col("t"), 256, "x").cast("binary"))
      val docs = multiDocs(s, d).filter(col("doc_id") < 120)
        .select(col("doc_id"), payload.as("p"))
      val wav = Multimodal.asWavTable(docs, "doc_id", "p")
      val mono = wav.select(col("media_id"),
        col("meta.sample_rate").as("sr"),
        Multimodal.monoMixPcm(col("payload"), col("channels")).as("mono"))
      def rows(kind: String, c: org.apache.spark.sql.Column) =
        mono.select(col("media_id"), lit(kind).as("kind"),
          posexplode(Multimodal.pcmSamples(c)).as(Seq("idx", "sample")))
      rows("mono", col("mono"))
        .unionByName(rows("near",
          Multimodal.resamplePcm(col("mono"), col("sr"), 6000, linear = false)))
        .unionByName(rows("lin",
          Multimodal.resamplePcm(col("mono"), col("sr"), 12000, linear = true)))
        .select(col("media_id"), col("kind"), col("idx").cast("long").as("idx"),
          col("sample"))
        .orderBy(col("media_id"), col("kind"), col("idx"))
    },

    // INCREMENTAL duplicate-span removal on the persistent (fp, epoch)
    // k-gram index — the suffix-array-family dedup (q155/q159) as an
    // ingest loop: three epochs (doc_id % 3) each cut every span owned
    // by ANY earlier epoch (a planted all-docs tail guarantees
    // cross-epoch hits) plus the batch-internal first-owner rule. The
    // oracle replays the first-owner rule from scratch across all three
    // batches — per-epoch gram tables, an EXISTS over earlier epochs'
    // fingerprints, and the same island/rebuild chain as q159.
    QueryDef.sql(
      "q189_span_dedup_incremental", {
        val planted = " the quick brown fox jumps over the lazy dog again" +
          " and again or visit the portal pages for more updates today"
        s"""WITH p AS (
           |  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS ep,
           |    text || '$planted' AS tx
           |  FROM documents),
           |t AS (SELECT doc_id, ep,
           |        list_transform(regexp_extract_all(tx, '[A-Za-z]+'), x -> lower(x)) AS ws
           |      FROM p),
           |g AS (SELECT doc_id, ep, unnest(range(0, len(ws) - 8 + 1)) AS pos, ws
           |      FROM t WHERE len(ws) >= 8),
           |grams AS (SELECT doc_id, ep, pos,
           |            md5(array_to_string(ws[pos+1:pos+8], ' ')) AS fp FROM g),
           |hist AS (SELECT DISTINCT fp, ep FROM grams),
           |owners AS (SELECT ep, fp, MIN(doc_id) AS owner, MAX(doc_id) AS mx
           |           FROM grams GROUP BY 1, 2),
           |losing AS (
           |  SELECT g.doc_id, g.pos FROM grams g
           |  JOIN owners o ON o.ep = g.ep AND o.fp = g.fp
           |  WHERE EXISTS (SELECT 1 FROM hist h WHERE h.fp = g.fp AND h.ep < g.ep)
           |     OR (o.owner <> o.mx AND g.doc_id <> o.owner)),
           |covered AS (SELECT DISTINCT doc_id, pos + u.u AS tt
           |            FROM losing, (SELECT unnest(range(0, 8)) AS u) u),
           |toks AS (SELECT doc_id, unnest(ws) AS tok,
           |           generate_subscripts(ws, 1) - 1 AS tt FROM t),
           |keptrows AS (
           |  SELECT k.doc_id, k.tt, k.tok FROM toks k
           |  LEFT JOIN covered c ON c.doc_id = k.doc_id AND c.tt = k.tt
           |  WHERE c.doc_id IS NULL),
           |kept AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |    string_agg(tok, ' ' ORDER BY tt) AS clean_text
           |  FROM keptrows GROUP BY doc_id)
           |SELECT p.doc_id, p.ep, COALESCE(k.clean_text, '') AS clean_text,
           |  COALESCE(k.n_kept, 0) AS n_kept,
           |  CAST(COALESCE(len(t.ws), 0) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
           |FROM p JOIN t USING (doc_id) LEFT JOIN kept k ON k.doc_id = p.doc_id
           |ORDER BY p.doc_id""".stripMargin
      }) { (s, d) =>
      import graft.llm.Substrings
      val planted = " the quick brown fox jumps over the lazy dog again" +
        " and again or visit the portal pages for more updates today"
      val aug = CacheRegistry.persist(Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"), lit(planted)).as("tx")))
      val dir = java.nio.file.Files.createTempDirectory("graft_q189_").toString
      rotateRunDirs("q189", Seq(dir))
      val results = (0 until 3).map { b =>
        Substrings.removeDuplicateSpansIncrement(
            aug.filter(pmod(col("doc_id"), lit(3)) === b), "doc_id", "tx",
            dir, epoch = b, k = 8)
          .withColumn("ep", lit(b.toLong))
      }
      results.reduce(_.unionByName(_))
        .select(col("id").as("doc_id"), col("ep"), col("clean_text"),
          col("n_kept"), col("n_removed"))
        .orderBy(col("doc_id"))
    },

    // GENERATION-boundary streaming NB training — q171 on the frozen
    // cadence (the q186 pattern generalized to training): four staged
    // batches, model snapshots only at every 2nd (batches 1 and 3), so
    // non-boundary triggers do strictly O(batch) work — tokenize +
    // append count triplets, NO settled-state read and no snapshot
    // write. Counts are additive, so each emitted snapshot must still
    // equal batch nbTrain over everything streamed through it: the
    // oracle retrains from scratch at both boundaries (halves 0-1, then
    // all four).
    QueryDef.sql(
      "q190_stream_nb_generational", {
        def wts(sfx: String, batchId: Int, where: String) =
          s"""lab$sfx AS (SELECT doc_id,  text,
             |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             |         THEN 'ref' ELSE 'other' END AS label
             |  FROM documents $where),
             |ttok$sfx AS (SELECT label,
             |    unnest(list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))) AS term
             |  FROM lab$sfx),
             |tcnt$sfx AS (SELECT label,
             |    CAST(('0x' || substring(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ttok$sfx GROUP BY 1, 2),
             |tot$sfx AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n FROM tcnt$sfx GROUP BY 1),
             |docs$sfx AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nd FROM lab$sfx GROUP BY 1),
             |ndt$sfx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndt FROM lab$sfx),
             |m$sfx AS (SELECT CAST($batchId AS BIGINT) AS batch_id, g.label,
             |    CAST(g.bucket AS BIGINT) AS bucket,
             |    CAST(ROUND(ln((COALESCE(c.c, 0) + 0.5) / (g.n + 0.5 * 64)) * 1e9, 0) AS BIGINT) AS w_u,
             |    CAST(ROUND(ln(g.nd / ndt$sfx.ndt) * 1e9, 0) AS BIGINT) AS prior_u
             |  FROM (SELECT d.label, b.bucket, COALESCE(t.n, 0) AS n, d.nd
             |        FROM docs$sfx d LEFT JOIN tot$sfx t USING (label)
             |        CROSS JOIN (SELECT unnest(range(0, 64)) AS bucket) b) g
             |  LEFT JOIN tcnt$sfx c ON c.label = g.label AND c.bucket = g.bucket
             |  CROSS JOIN ndt$sfx)""".stripMargin
        s"""WITH
           |${wts("0", 1, "WHERE doc_id % 4 IN (0, 1)")},
           |${wts("1", 3, "")}
           |SELECT * FROM m0 UNION ALL SELECT * FROM m1
           |ORDER BY batch_id, label, bucket""".stripMargin
      }) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"),
        when(col("source").isin("src0", "src1", "src2", "src3"), lit("ref"))
          .otherwise(lit("other")).as("label"),
        col("text"))
      val staged = stageModSplits(corpus, d, "q190", 4)
      val base = java.nio.file.Files.createTempDirectory("graft_q190_").toString
      rotateRunDirs("q190", Seq(base))
      graft.llm.Classify.nbTrainStreaming(s, staged, corpus.schema, "label", "text",
          buckets = 64, alpha = 0.5, base + "/state", base + "/out",
          compactEvery = 2, snapshotEvery = 2)
        .select(col("batch_id").cast("long").as("batch_id"), col("label"),
          col("bucket"), col("w_u"), col("prior_u"))
        .orderBy(col("batch_id"), col("label"), col("bucket"))
    }
  )

  /** q178's planted boilerplate page body — ONE definition feeding both
    * the Spark builder and the oracle SQL literal, so the dedup-rate
    * fixture can never silently desynchronize the twins.
    */
  private lazy val crawlBoilerplate: String =
    "welcome to our landing page where we share product news " +
    "release notes support answers community stories press updates careers " +
    "information partner resources developer guides customer case studies " +
    "event recaps roadmap highlights security advisories billing help " +
    "migration tips and general company announcements every single week"

  /** The q167/q168/q177 deterministic messy-URL generator, SQL form. */
  /** q200's robots.txt fixture (host → lines): exercises agent-specific
    * group precedence over `*`, multi-agent group headers, longest-match,
    * the Allow-wins-ties rule, empty-Disallow no-op, unknown directives
    * (Crawl-delay), comments, mixed-case directives/agents, a host whose
    * only group names another agent (no applicable rules ⇒ allowed), and
    * hosts with no robots at all. Shared constant: the Spark side builds
    * the DataFrame from it, the oracle renders it as literals — one
    * source of truth.
    */
  private lazy val robotsFixture: Seq[(String, Seq[String])] = Seq(
    "www.example.com" -> Seq(
      "# site rules",
      "User-AGENT: GraftBot",
      "Disallow: /Articles/",
      "Allow: /Articles/4",
      "Allow: /Articles/1",
      "Disallow: /Articles/1",
      "",
      "User-agent: *",
      "Disallow: /"),
    "news.example.co.uk" -> Seq(
      "User-agent: *",
      "Disallow: /story/1",
      "Allow: /story/12",
      "Disallow:",
      "Crawl-delay: 10"),
    "cdn0.example.net" -> Seq(
      "User-agent: otherbot",
      "Disallow: /"),
    "cdn1.example.net" -> Seq(
      "User-agent: *",
      "Disallow: /assets/"),
    // the only cdn host the q167 frontier can hit (doc_id ≡ 2 mod 6 ⇒
    // doc_id mod 3 = 2): another agent's group is skipped, the `*`
    // group's partial path block applies
    "cdn2.example.net" -> Seq(
      "User-agent: otherbot",
      "Disallow: /",
      "",
      "User-agent: *",
      "Disallow: /assets/img1"),
    "shop.example.com" -> Seq(
      "User-agent: helperbot",
      "User-agent: graftbot",
      "Disallow: /",
      "Allow: /public/"))

  private lazy val urlGenSql: String =
    """CASE doc_id % 6
      |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Articles/' || CAST(doc_id AS VARCHAR) || '/?b=2&a=1#frag'
      |    WHEN 1 THEN 'https://News.Example.CO.UK:443/story/' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN 'http://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net:8080/assets/img' || CAST(doc_id AS VARCHAR) || '.png'
      |    WHEN 3 THEN 'https://USER' || CAST(doc_id AS VARCHAR) || '.GitHub.IO/repo/?z=9&y=&x=1#s'
      |    WHEN 4 THEN 'http://intranet-host' || CAST(doc_id % 5 AS VARCHAR) || '/home/'
      |    ELSE 'https://shop.example.com/?utm=abc&id=' || CAST(doc_id AS VARCHAR) || '&'
      |  END""".stripMargin

  /** The deterministic messy-URL generator (Column twin of
    * [[urlGenSql]]).
    */
  private def urlColumn(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val id = docId.cast("string")
    when(pmod(docId, lit(6)) === 0,
        concat(lit("HTTP://WWW.Example.COM:80/Articles/"), id, lit("/?b=2&a=1#frag")))
      .when(pmod(docId, lit(6)) === 1,
        concat(lit("https://News.Example.CO.UK:443/story/"), id))
      .when(pmod(docId, lit(6)) === 2,
        concat(lit("http://cdn"), pmod(docId, lit(3)).cast("string"),
          lit(".example.net:8080/assets/img"), id, lit(".png")))
      .when(pmod(docId, lit(6)) === 3,
        concat(lit("https://USER"), id, lit(".GitHub.IO/repo/?z=9&y=&x=1#s")))
      .when(pmod(docId, lit(6)) === 4,
        concat(lit("http://intranet-host"), pmod(docId, lit(5)).cast("string"), lit("/home/")))
      .otherwise(
        concat(lit("https://shop.example.com/?utm=abc&id="), id, lit("&")))
  }

  /** Four-script multilingual phrase bank (zh / ru / ar / en; index =
    * doc_id % 4, three phrase variants per language) — ONE definition
    * feeding both the Spark fixture builder and the oracle SQL literals,
    * so the byte-feature gate rows (q183-q185) see the identical
    * non-Latin corpus on both engines. Phrases are each language's
    * most-common function words: byte-disjoint across scripts, which is
    * what lets LlmSpec assert perfect held-out separation.
    */
  private lazy val multiPhrases: Seq[(String, Seq[String])] = Seq(
    "zh" -> Seq(
      "的 是 不 了 人 我 在 有 他 这",
      "中 大 来 上 国 个 到 说 们 为",
      "子 和 你 地 出 道 也 时 年 得"),
    "ru" -> Seq(
      "и в не на я что он как по это",
      "она так его но да ты к у мы за",
      "вы со бы же от все о мне было еще"),
    "ar" -> Seq(
      "في من على أن هذا إلى كان التي عن مع",
      "هو كل لم ما أو وقد لا كما فيه قال",
      "ذلك أي أكثر عند غير بين بعد حيث لكن منذ"),
    "en" -> Seq(
      "the and of to in it is was he for",
      "that on with as at by this had not are",
      "but from or have an they which one you were"))

  /** The multilingual fixture as a DuckDB CTE body: (doc_id, lang, t)
    * with lang = doc_id % 4 over [[multiPhrases]], phrase variant
    * (doc_id % 12) // 4, and the doc id appended so texts stay unique.
    */
  private lazy val multiDocsSql: String = {
    val langCase = multiPhrases.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
    val textCase = multiPhrases.zipWithIndex.map { case ((_, ps), i) =>
      s"WHEN $i THEN (CASE (doc_id % 12) // 4 WHEN 0 THEN ${sqlQuote(ps(0))} " +
        s"WHEN 1 THEN ${sqlQuote(ps(1))} ELSE ${sqlQuote(ps(2))} END)"
    }.mkString(" ")
    s"SELECT doc_id, CASE doc_id % 4 $langCase END AS lang, " +
      s"(CASE doc_id % 4 $textCase END) || ' doc ' || CAST(doc_id AS VARCHAR) AS t " +
      "FROM documents"
  }

  /** Column twin of [[multiDocsSql]]: (doc_id, lang, t). */
  private def multiDocs(s: org.apache.spark.sql.SparkSession, d: String):
      org.apache.spark.sql.DataFrame = {
    val docId = col("doc_id")
    val variant = floor(pmod(docId, lit(12)) / 4).cast("int")
    val lang = multiPhrases.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, ((l, _), i)) => acc.when(pmod(docId, lit(4)) === i, lit(l)) }
    val phrase = multiPhrases.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, ((_, ps), i)) =>
        ps.zipWithIndex.foldLeft(acc) { case (a, (p, v)) =>
          a.when(pmod(docId, lit(4)) === i && variant === v, lit(p)) }
    }
    Tables.documents(s, d).select(docId, lang.as("lang"),
      concat(phrase, lit(" doc "), docId.cast("string")).as("t"))
  }

  /** DuckDB replay of [[TextAnalysis.byteNgrams]] over SQL expression
    * `expr`: the 2n-hex-char slices of hex(encode(expr)) at odd offsets —
    * the q172 hex-recovery contract applied to sliding windows. Empty
    * when the text holds fewer than n bytes (range upper bound < 1).
    */
  private def byteNgramSql(expr: String, n: Int): String =
    s"list_transform(range(1, octet_length(encode($expr)) - $n + 2), " +
      s"i -> substr(hex(encode($expr)), 2*i - 1, ${2 * n}))"
}