package graft.llm

import graft.expressions.{CosineSim, SrpSig}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

/** Similarity search over embedding columns (`array<float>`), north-star
  * extension. Two paths:
  *
  *  - brute-force cosine top-k: broadcast the (small) query set against the
  *    corpus — the corpus is never shuffled, each partition scores its rows
  *    and a bounded top-k per query survives. This is the exact baseline
  *    and the right plan whenever |queries| ≪ |corpus| (the 100 TB shape).
  *  - LSH (signed random projection) buckets: 16-bit hyperplane signature,
  *    candidates = signature-band collisions, verified by exact cosine.
  *    Sub-linear candidate generation for corpus-vs-corpus joins.
  *
  * Vector math is `zip_with`/`aggregate`/`transform` — pure Catalyst, no
  * UDF, operates on `array<double>` for engine-portable numerics.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Single-pass codegen cosine (same IEEE op order as the HOF fold). */
  def cosine(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a.cast("array<double>")), toExpr(b.cast("array<double>"))))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (id, vec: array<float|double>). The query side is
    * broadcast; ranking is a window partitioned by query id. Ties broken by
    * neighbor id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** `nBits`-bit signed-random-projection signature of a vector column —
    * single-pass SrpSig kernel (deterministic splitmix64 ±1 hyperplanes).
    */
  def srpSignature(vec: Column, nBits: Int = 16, seed: Long = 7L): Column =
    toCol(SrpSig(toExpr(vec.cast("array<double>")), nBits, seed))

  /** ANN via SRP-LSH: bucket on signature bands (4×(nBits/4) chunks),
    * candidates = same-band collisions, exact cosine re-rank, top-k.
    * Recall < 1 by construction; exactness is the brute-force path's job.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "id", vecCol: String = "vec", nBits: Int = 32): DataFrame = {
    val bandBits = nBits / 4
    def banded(df: DataFrame, prefix: String): DataFrame = {
      val sig = srpSignature(col(vecCol).cast("array<double>"), nBits)
      df.select(col(idCol).as(s"${prefix}id"),
          col(vecCol).cast("array<double>").as(s"${prefix}v"), sig.as("sig"))
        .select(col(s"${prefix}id"), col(s"${prefix}v"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col("sig"), b * bandBits)
                .bitwiseAND(lit((1L << bandBits) - 1)).as("chunk"))): _*)).as("bb"))
        .select(col(s"${prefix}id"), col(s"${prefix}v"), col("bb.band"), col("bb.chunk"))
    }
    val qb = banded(queries, "q")
    val cb = banded(corpus, "n")
    // distinct on the id pair only; vectors re-attached afterwards so the
    // shuffle moves 16-byte keys instead of embedding arrays
    val cand = qb.select(col("qid"), col("band"), col("chunk"))
      .join(cb.select(col("nid"), col("band"), col("chunk")), Seq("band", "chunk"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val nv = corpus.select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nv"))
    val scored = cand.join(broadcast(qv), "qid").join(nv, "nid")
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  // ---------------------------------------------------------------- IVF

  /** Train an IVF coarse quantizer: Lloyd's k-means (cosine geometry, i.e.
    * spherical k-means on normalized vectors) over a BOUNDED sample of the
    * corpus, driver-side — exactly the index-build contract of IVF systems
    * (quantizers train on an in-memory sample; only assign/search touch the
    * full corpus). Deterministic: sample = first `sampleSize` ids, init =
    * first k distinct sampled vectors.
    *
    * Returns k centroid vectors.
    */
  /** Corpus-scaled cell count for partitioned self-joins (SemDeDup's
    * cluster-then-pair shape): a FIXED cell count makes within-cell pair
    * work Σ|cell|² ≈ N²/k — quadratic (measured: q113 at 100× data hit a
    * 62× decade factor on k=8). A fixed target cell SIZE instead keeps
    * pair work ≈ N·target — linear in the corpus. Assignment cost is
    * N·k·d flat scans here; past ~10⁷ cells a production deployment adds
    * a coarse quantizer level (IVF-HNSW / two-level k-means) so
    * assignment stays sub-linear in k — same contract, different
    * centroid lookup.
    */
  def scaledCellCount(n: Long, targetCellSize: Int = 1024, min: Int = 8): Int =
    math.max(min, (n / math.max(1, targetCellSize)).toInt + 1)

  def ivfTrain(corpus: DataFrame, k: Int, iters: Int = 8,
      sampleSize: Int = 4096, idCol: String = "id", vecCol: String = "vec"): Array[Array[Double]] = {
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"need >= $k sample vectors, got ${sample.length}")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    // Array equality is reference equality — dedupe via Seq views or the
    // init silently admits duplicate centroids (frozen empty cells)
    var centroids = pts.map(_.toSeq).distinct.take(k).map(_.toArray)
    require(centroids.length == k,
      s"sample has only ${centroids.length} distinct vectors, need k=$k")
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](pts.head.length))
      val cnts = new Array[Long](centroids.length)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.MinValue
        var i = 0
        while (i < centroids.length) {
          var d = 0.0; var j = 0
          while (j < p.length) { d += p(j) * centroids(i)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = i }
          i += 1
        }
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      centroids = centroids.indices.map { i =>
        if (cnts(i) == 0) centroids(i) else normalize(sums(i))
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid cell id for a vector column — one codegen argmax
    * kernel per row ([[graft.expressions.NearestCentroid]]); the centroid
    * table rides the codegen reference registry instead of being inlined
    * as k struct literals in the plan (at a production cell count that
    * literal array is megabytes of expression tree evaluated through
    * interpreted HOF folds). Same cosine fold order and first-wins tie
    * rule as the HOF form — outputs bit-identical, pinned by the
    * full-probe == brute-force identity in LlmSpec. NULL/zero-norm
    * vectors land in cell 0 (they must land in SOME cell, or they'd
    * silently vanish from the index).
    */
  def ivfCell(vec: Column, centroids: Array[Array[Double]]): Column =
    toCol(graft.expressions.NearestCentroid(
      toExpr(coalesce(vec.cast("array<double>"), typedLit(Seq.empty[Double]))),
      centroids))

  /** IVF top-k search: each query probes its `nProbe` nearest cells and
    * scores ONLY vectors assigned there. The (qid, cell) probe list is tiny
    * and broadcast, so the corpus is never shuffled; at rest, a corpus
    * written partitioned by cell turns the probe into partition pruning.
    * With nProbe = k (probe every cell) the result equals bruteForceTopK
    * exactly — the spec pins that identity.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: Array[Array[Double]],
      k: Int, nProbe: Int, idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    // assign corpus vectors to cells (map-side, codegen)
    val assigned = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nv"),
      ivfCell(col(vecCol), centroids).as("cell"))
    // probe list: nProbe nearest centroids per query
    val cellScores = array(centroids.indices.map { i =>
      struct(lit(i).as("cell"),
        cosine(col("qv"), typedLit(centroids(i).toSeq)).as("d"))
    }: _*)
    val probes = queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cs", explode(cellScores))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cs.d").desc, col("cs.cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cs.cell").as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** Materialize an IVF index AT REST: the corpus written partitioned by
    * cell, so a probe (`WHERE cell IN (...)`) becomes directory-level
    * partition pruning — unprobed cells are never even listed. This is
    * the layout the ivfTopK doc-comment promises; LlmSpec asserts the
    * PartitionFilters in the probed scan plan.
    */
  def ivfWrite(corpus: DataFrame, centroids: Array[Array[Double]], indexDir: String,
      idCol: String = "id", vecCol: String = "vec"): Unit =
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        ivfCell(col(vecCol), centroids).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)

  /** ADDITIVE maintenance of an at-rest IVF index: new vectors are
    * assigned to the EXISTING centroids (one map-side codegen pass — no
    * retrain, no shuffle, no touch of resident data) and appended into
    * their cell directories. The grown index is bit-identical to a
    * rebuild of the union corpus under the same centroids, so probe
    * semantics are unchanged — the incremental-ingest contract of a
    * production vector store (FAISS IVF add-after-train). Centroids are
    * frozen by contract; as the ingested distribution drifts, recall
    * decays gracefully (vectors still land in their nearest EXISTING
    * cell) and the retrain cadence is the caller's knob.
    */
  def ivfAppend(newVecs: DataFrame, centroids: Array[Array[Double]], indexDir: String,
      idCol: String = "id", vecCol: String = "vec"): Unit = {
    graft.ops.CacheRegistry.during(newVecs.select(col(idCol).as("id"), col(vecCol).as("vec"),
        ivfCell(col(vecCol), centroids).as("cell"))) { assigned =>
      // size writer parallelism to the increment: a 32-way append of a
      // small batch leaves up to 32 near-empty files PER CELL, and every
      // later probe pays the per-file open cost
      val outFiles = graft.ops.Layout.sizedFileCount(assigned.count())
      assigned.coalesce(outFiles)
        .write.mode("append").partitionBy("cell").parquet(indexDir)
    }
  }

  // ----------------------------------------------------------------- PQ

  /** Train product-quantization codebooks (Jégou et al. 2011): vectors
    * are L2-normalized (so L2 order ≡ cosine order: ‖a−b‖² = 2−2cos on
    * unit vectors), split into `m` subvectors, and each subspace gets
    * its own k-means codebook — trained driver-side on a bounded sample,
    * the same index-build contract as [[ivfTrain]]. Returns m × k
    * sub-centroids. PQ is the COMPRESSION leg of ANN: a 64-dim float
    * vector becomes m small codes, so a 100 TB embedding corpus scans
    * from a few bytes per row.
    */
  def pqTrain(corpus: DataFrame, m: Int, k: Int = 16, iters: Int = 8,
      sampleSize: Int = 4096, idCol: String = "id",
      vecCol: String = "vec"): Array[Array[Array[Double]]] = {
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sub = d / m
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    (0 until m).toArray.map { s =>
      val subPts = pts.map(_.slice(s * sub, (s + 1) * sub))
      var cents = subPts.map(_.toSeq).distinct.take(k).map(_.toArray)
      require(cents.nonEmpty, "degenerate subspace")
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val cnts = new Array[Long](cents.length)
        subPts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var i = 0
          while (i < cents.length) {
            var dd = 0.0; var j = 0
            while (j < sub) { val x = p(j) - cents(i)(j); dd += x * x; j += 1 }
            if (dd < bestD) { bestD = dd; best = i }
            i += 1
          }
          var j = 0
          while (j < sub) { sums(best)(j) += p(j); j += 1 }
          cnts(best) += 1
        }
        cents = cents.indices.map { i =>
          if (cnts(i) == 0) cents(i) else sums(i).map(_ / cnts(i))
        }.toArray
      }
      cents
    }
  }

  /** L2-normalized copy of a vector column (unit sphere — zero vectors
    * pass through unchanged).
    */
  def l2Normalize(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x))
    when(n === 0.0, v).otherwise(transform(v, x => x / n))
  }

  /** PQ code column: per subspace, the index of the nearest sub-centroid
    * (argmin L2) — one codegen kernel pass per row
    * ([[graft.expressions.PqEncode]]); codebooks ride the codegen
    * reference registry, not m×k struct literals evaluated through
    * interpreted HOF folds. Same distance fold and first-wins argmin as
    * the HOF form (IVF-PQ == flat-PQ identity pins it). Input must
    * already be normalized ([[l2Normalize]]).
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(graft.expressions.PqEncode(toExpr(vec.cast("array<double>")), codebooks))

  /** Asymmetric-distance PQ top-k: corpus rows carry only their codes;
    * each (query, row) distance is Σ over subspaces of the exact
    * query-subvector-to-sub-centroid distance selected by the row's code
    * — the ADC scan. Queries broadcast; the ADC pass never shuffles the
    * corpus and never rereads vectors.
    *
    * `rerank` > k engages the production IVF-PQ shape: the ADC scan
    * produces a `rerank`-deep shortlist, whose TRUE vectors (only
    * |Q|·rerank rows) are re-fetched for an exact-cosine re-rank to k —
    * quantization error then only costs recall when a true neighbor
    * falls outside the shortlist entirely. Approximate by construction
    * → rows-only gate; the spec pins recall against brute force.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]], k: Int, rerank: Int = 0,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val kCents = codebooks.head.length
    // normalize in its OWN projection: pqEncode references its input
    // inside m×k HOF lambdas, and a lambda re-evaluates captured
    // expressions per element — inlining the (expensive) normalization
    // there would multiply it m×k-fold per row
    val encoded = corpus
      .select(col(idCol).as("nid"), l2Normalize(col(vecCol)).as("__nv"))
      .select(col("nid"), pqEncode(col("__nv"), codebooks).as("codes"))
    // ADC lookup tables are computed DRIVER-side per query (|Q|·m·k
    // doubles — queries are the bounded side, same contract as the
    // broadcast in bruteForceTopK): the per-row distance then collapses
    // to m table lookups instead of m sub-vector distance expressions,
    // which keeps the scan inside a small codegen stage
    val spark = queries.sparkSession
    val qRows = queries
      .select(col(idCol).as("qid"), l2Normalize(col(vecCol)).as("qv"))
      .collect().map { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Double](1).toArray
        val tab = new Array[Double](m * kCents)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < kCents) {
            var dd = 0.0; var j = 0
            while (j < sub) {
              val x = qv(s * sub + j) - codebooks(s)(c)(j); dd += x * x; j += 1
            }
            tab(s * kCents + c) = dd
            c += 1
          }
          s += 1
        }
        org.apache.spark.sql.Row(qid, qv.toSeq, tab.toSeq)
      }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), false),
      org.apache.spark.sql.types.StructField("tab",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), false)))
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSchema)
    val dist = (0 until m).map { s =>
      element_at(col("tab"), lit(s * kCents) + element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), dist.as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid"))
    val short = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= math.max(k, rerank)).drop("rn")
    // uniform output contract regardless of the rerank knob: (qid, nid,
    // cos) with higher-is-closer. On unit vectors ‖a−b‖² = 2−2cos, so the
    // ADC distance converts exactly — without this, tuning rerank would
    // silently swap the score column and its ordering semantics
    if (rerank <= k)
      short.select(col("qid"), col("nid"), (lit(1.0) - col("adist") / 2).as("cos"))
    else {
      val nv = corpus.select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nv"))
      // the shortlist is bounded by |Q|·max(k, rerank) — broadcast IT
      // explicitly so the corpus-sized nv is never the size-estimated
      // side (at production scale auto-broadcast must not be trusted to
      // pick the right side of this join)
      val exact = nv
        .join(broadcast(short.select(col("qid"), col("nid"))), "nid")
        .join(broadcast(q), "qid")
        .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
      val w2 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      exact.withColumn("rn", row_number().over(w2)).filter(col("rn") <= k).drop("rn")
    }
  }

  /** IVF-PQ search — the production 100 TB ANN shape (Jégou et al. 2011,
    * §IV; the composition of [[ivfTopK]]'s cell pruning with [[pqTopK]]'s
    * compressed ADC scan). The corpus is indexed once per call in a single
    * map-side codegen pass (coarse cell + PQ codes, both from broadcast
    * literal codebooks — at rest this is the index you'd write partitioned
    * by cell, turning the probe into partition pruning). Per query,
    * driver-side prep (bounded by the |Q|-is-small broadcast contract)
    * yields the ADC lookup table and the `nProbe` nearest cells; the ADC
    * scan then touches ONLY rows in probed cells, and the `rerank`-deep
    * shortlist's true vectors (|Q|·rerank rows) get an exact-cosine
    * re-rank to k. The corpus is never shuffled and full vectors are only
    * read for the shortlist.
    *
    * Output: (qid, nid, cos), same contract as every other ANN path here.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      k: Int, nProbe: Int, rerank: Int = 0,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val kCents = codebooks.head.length
    // index pass: normalization materialized in its own projection (HOF
    // lambdas re-evaluate captured expressions per element — see pqTopK)
    val encoded = corpus
      .select(col(idCol).as("nid"), l2Normalize(col(vecCol)).as("__nv"),
        ivfCell(col(vecCol), centroids).as("cell"))
      .select(col("nid"), col("cell"), pqEncode(col("__nv"), codebooks).as("codes"))
    val spark = queries.sparkSession
    // Driver-side per-query prep (bounded by the |Q|-is-small broadcast
    // contract): ONE row per query carries the ADC table + normalized
    // vector; a SEPARATE slim (qid, cell) list carries the probes. The
    // m·kCents-double table is therefore broadcast once per query, not
    // nProbe× (at production scale k≈1024, m=16 each copy is ~128 KiB —
    // duplicating it per probed cell multiplied the broadcast for free).
    val qData = queries
      .select(col(idCol).cast("long").as("qid"), l2Normalize(col(vecCol)).as("qv"))
      .collect().map { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Double](1).toArray
        val tab = new Array[Double](m * kCents)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < kCents) {
            var dd = 0.0; var j = 0
            while (j < sub) {
              val x = qv(s * sub + j) - codebooks(s)(c)(j); dd += x * x; j += 1
            }
            tab(s * kCents + c) = dd
            c += 1
          }
          s += 1
        }
        // qv is unit-norm and ivfTrain centroids are unit-norm, so the
        // dot IS the cosine — same cell ordering as ivfCell/ivfTopK
        val probed = centroids.indices.map { i =>
          var d = 0.0; var j = 0
          while (j < qv.length) { d += qv(j) * centroids(i)(j); j += 1 }
          (i, d)
        }.sortBy { case (i, d) => (-d, i) }.take(nProbe).map(_._1)
        (qid, qv, tab, probed)
      }
    import org.apache.spark.sql.types._
    def df(rows: Seq[org.apache.spark.sql.Row], fields: (String, DataType)*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }))
    val probes = df(
      qData.toIndexedSeq.flatMap { case (qid, _, _, probed) =>
        probed.map(cell => org.apache.spark.sql.Row(qid, cell)) },
      "qid" -> LongType, "cell" -> IntegerType)
    val qTabs = df(
      qData.toIndexedSeq.map { case (qid, qv, tab, _) =>
        org.apache.spark.sql.Row(qid, qv.toSeq, tab.toSeq) },
      "qid" -> LongType, "qv" -> ArrayType(DoubleType), "tab" -> ArrayType(DoubleType))
    val dist = (0 until m).map { s =>
      element_at(col("tab"), lit(s * kCents) + element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    // probed-cells-only ADC scan: the broadcast hash join on cell drops
    // every unprobed cell at the scan, then the per-query table attaches
    // by qid — two broadcasts, both minimal; no shuffle of the corpus
    val scored = encoded.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .join(broadcast(qTabs.select(col("qid"), col("tab"))), Seq("qid"))
      .select(col("qid"), col("nid"), dist.as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid"))
    val short = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= math.max(k, rerank)).drop("rn")
    // exact-cosine re-rank over the shortlist's true vectors. The
    // shortlist is bounded by |Q|·max(k, rerank) — broadcast IT
    // explicitly so the corpus-sized nv is never the size-estimated side
    // (auto-broadcast must not be trusted to pick the right side at
    // production scale, and the q131 plan contract pins corpus-no-shuffle)
    val nv = corpus.select(col(idCol).as("nid"), col(vecCol).cast("array<double>").as("nv"))
    val qvOnly = qTabs.select(col("qid"), col("qv"))
    val exact = nv
      .join(broadcast(short.select(col("qid"), col("nid"))), "nid")
      .join(broadcast(qvOnly), "qid")
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    exact.withColumn("rn", row_number().over(w2)).filter(col("rn") <= k).drop("rn")
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023, arXiv:
    * 2303.09540): cluster the corpus with the IVF coarse quantizer, score
    * cosine pairs WITHIN each cluster only, connect components, keep the
    * smallest id per duplicate group. The per-cell pairing is what bounds
    * the quadratic term at 100 TB — all-pairs cosine is |corpus|², within
    * cells it is Σ|cell|², and the cluster assignment is one map-side
    * codegen pass (centroids are a broadcast literal). Near-dups split
    * across cell boundaries are missed by construction; SemDeDup accepts
    * that recall trade (the spec pins exactness when dup groups are
    * tighter than cluster separation).
    *
    * Returns the keep-list: (id) rows that survive.
    */
  def semanticDedup(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val assigned = graft.ops.CacheRegistry.persist(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"),
        ivfCell(col(vecCol), centroids).as("cell")))
    // Shuffle-shape note (measured, sf0.1): the within-cell pair count is
    // P = Σ|cell|² ≫ N, so the lshTopK pattern (id-only candidates, then
    // re-attach vectors by id) is WRONG here — it exchanges P pair rows
    // twice and carries v1 through the second join, strictly more vector
    // bytes than exchanging the corpus once. Instead the two sides of the
    // cell self-join are the SAME canonicalized plan (one aliased frame),
    // so Catalyst's exchange reuse ships the corpus through ONE exchange;
    // pair enumeration, cosine, and the threshold filter all happen inside
    // the join stage — candidate pairs never shuffle, and only the
    // (id1, id2) survivors leave the stage (the CC input).
    val self = assigned.select(col("cell"), col("id"), col("v"))
    val pairs = self.as("l").join(self.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .filter(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
    val comp = Dedup.connectedComponents(pairs)
    assigned.select(col("id"))
      .join(comp, Seq("id"), "left")
      .filter(col("component").isNull || col("component") === col("id"))
      .select(col("id"))
  }

  /** Per-document guard for [[semanticDedup]]'s keep-list, emitted as a
    * gate-checkable (id, guard_ok) frame: a KEPT doc must have NO kept
    * within-cell neighbor at cos ≥ threshold (two kept docs sharing such
    * an edge would be one cluster, and the keep rule retains exactly one
    * id per cluster), and a DROPPED doc must have at least one within-cell
    * neighbor at cos ≥ threshold (an isolated doc can never drop). Taking
    * the keep-list as an INPUT keeps the guard independently testable — a
    * tampered keep-list (extra kept dup, or a dropped isolated doc) flips
    * rows (LlmSpec's negative test). Same single-exchange cell self-join
    * shape as semanticDedup itself.
    */
  def semanticDedupGuard(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, keep: DataFrame,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      ivfCell(col(vecCol), centroids).as("cell"))
    val self = assigned.select(col("cell"), col("id"), col("v"))
    val pairs = self.as("l").join(self.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .filter(cosine(col("l.v"), col("r.v")) >= threshold)
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
    val sym = pairs.union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val keptFlags = assigned.select(col("id"))
      .join(keep.select(col("id"), lit(true).as("kept")), Seq("id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(false)))
    val neigh = sym
      .join(keptFlags.select(col("id").as("id2"), col("kept").as("k2")), "id2")
      .groupBy(col("id1").as("id"))
      .agg(count(lit(1)).as("deg"), max(col("k2").cast("int")).as("kept_neigh"))
    keptFlags.join(neigh, Seq("id"), "left")
      .select(col("id"),
        when(col("kept"), coalesce(col("kept_neigh"), lit(0)) === 0)
          .otherwise(coalesce(col("deg"), lit(0)) > 0).as("guard_ok"))
  }

  /** One-row ANN guard frame for the gate: (n_queries, [identityCol],
    * recall_ok). `approx`/`brute`/`exactTwin`/`twinBase` are (qid, nid)
    * pair frames; recall_ok checks |approx ∩ brute| ≥ floor·|brute|, and
    * when `exactTwin` is given, identityCol checks it equals `twinBase`
    * (default: brute) as a SET — the full-probe-degenerates-to-exact
    * identity. All comparisons stay distributed; the result is one row.
    */
  def annGuard(queries: DataFrame, brute: DataFrame, approx: DataFrame,
      recallFloor: Double, exactTwin: Option[DataFrame] = None,
      identityCol: String = "full_probe_exact",
      twinBase: Option[DataFrame] = None): DataFrame = {
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    val hits = approx.join(brute, Seq("qid", "nid"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val tot = brute.agg(count(lit(1)).as("tot"))
    val base = nq.crossJoin(tot).crossJoin(hits)
      .withColumn("recall_ok", col("hits") >= col("tot") * lit(recallFloor))
    exactTwin match {
      case Some(t) =>
        val ref = twinBase.getOrElse(brute)
        val bad = t.exceptAll(ref).union(ref.exceptAll(t))
          .agg(count(lit(1)).as("n_bad"))
        base.crossJoin(bad)
          .select(col("n_queries"), (col("n_bad") === 0).as(identityCol), col("recall_ok"))
      case None =>
        base.select(col("n_queries"), col("recall_ok"))
    }
  }

  /** Embedding-space near-duplicate pairs: corpus×corpus via LSH buckets,
    * kept when cosine >= threshold.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "id", vecCol: String = "vec", nBits: Int = 32): DataFrame = {
    val bandBits = nBits / 4
    val sig = srpSignature(col(vecCol).cast("array<double>"), nBits)
    val b = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"), sig.as("sig"))
      .select(col("id"), col("v"),
        explode(array((0 until 4).map(bd =>
          struct(lit(bd).as("band"),
            shiftrightunsigned(col("sig"), bd * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("chunk"))): _*)).as("bb"))
      .select(col("id"), col("v"), col("bb.band"), col("bb.chunk"))
    val l = b.select(col("band"), col("chunk"), col("id").as("id1"))
    val r = b.select(col("band"), col("chunk"), col("id").as("id2"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    l.join(r, Seq("band", "chunk")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
      .join(vecs.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(vecs.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-vector symmetric int8 scalar quantization — the storage tier
    * between raw float vectors and PQ codes (4× smaller than float32,
    * exact integer dot products): scale = max|x_i|, q_i =
    * ⌊x_i/scale·127 + 0.5⌋ clamped to [-127, 127]. Half-up via explicit
    * floor(·+0.5), NOT round() — floor of an IEEE double is exact and
    * identical in every engine, so the codes (and everything ranked on
    * them) replay bit-for-bit cross-engine. Zero vectors quantize to
    * zeros with scale 0. Pure codegen column HOFs, shuffle-free.
    * Output: id, qvec (array<int>), scale.
    */
  def int8Quantize(df: DataFrame, idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = array_max(transform(v, x => abs(x)))
    df.select(col(idCol).as("id"),
      when(scale === 0.0, transform(v, _ => lit(0)))
        .otherwise(transform(v, x =>
          greatest(lit(-127), least(lit(127),
            floor(x / scale * 127 + lit(0.5)).cast("int"))))).as("qvec"),
      scale.as("scale"))
  }

  /** Top-k cosine search over int8-quantized vectors: dot products and
    * norms are EXACT integer arithmetic (the whole point of symmetric
    * quantization — only the final cosine division touches floats, and
    * ranking runs on round(qcos, 4) with the nid tiebreak, the q35
    * discipline). Queries broadcast; the corpus scans once. Output:
    * qid, nid, qcos (the RAW cosine — ranking rounds, the result does
    * not).
    *
    * Scale shape: the k-bounded [[graft.functions.TopKCarry]] aggregate,
    * NOT a rank window — a window partitioned by qid would drag every
    * (corpus × query) score of one query onto ONE task and sort it
    * (corpus-sized partitions at |q| ≪ cores); the algebraic aggregator
    * caps map-side state at k entries per query, so the single exchange
    * carries ≤ k·|q| rows per partition regardless of corpus size (the
    * q91 contract).
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x)
    val q = int8Quantize(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("qvec").as("qq"))
      .withColumn("na", idot(col("qq"), col("qq")))
    val c = int8Quantize(corpus, idCol, vecCol)
      .select(col("id").as("nid"), col("qvec").as("nq"))
      .withColumn("nb", idot(col("nq"), col("nq")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        when(col("na") === 0L || col("nb") === 0L, lit(0.0))
          .otherwise(idot(col("qq"), col("nq")).cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))).as("qcos"))
    val topk = udaf(new graft.functions.TopKCarry(k))
    scored.groupBy(col("qid"))
      .agg(topk(round(col("qcos"), 4), col("nid"), col("qcos")).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t._2").as("nid"), col("t._3").as("qcos"))
  }

  /** SEMANTIC decontamination — the embedding-space sibling of the
    * n-gram benchmark filters (q87 exact, q164 fuzzy): flag every corpus
    * item whose max cosine similarity to ANY benchmark vector reaches
    * `threshold` (paraphrased eval leakage that token overlap misses),
    * with the argmax benchmark id as evidence. Ranking runs on
    * round(cos, 4) with a smallest-bench-id tiebreak, the q35
    * determinism discipline.
    *
    * Scale shape: the benchmark set BROADCASTS (eval suites are
    * thousands of vectors); the per-row max collapses in the map-side
    * partial aggregate, so the one exchange carries exactly one
    * (id, best) pair per corpus row — the corpus' own vectors never
    * shuffle. Output: id, bench_id, cos, contaminated.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      threshold: Double, idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    val b = bench.select(col(idCol).as("bid"), col(vecCol).cast("array<double>").as("bv"))
    c.crossJoin(broadcast(b))
      .select(col("id"),
        struct(round(cosine(col("cv"), col("bv")), 4).as("cos"),
          (-col("bid")).as("nbid")).as("s"))
      .groupBy(col("id"))
      .agg(max(col("s")).as("best"))
      .select(col("id"), (-col("best.nbid")).as("bench_id"),
        col("best.cos").as("cos"),
        (col("best.cos") >= threshold).as("contaminated"))
  }
}
