package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for scaling smokes: replicates a test-data SF
  * directory `factor`× with per-replica key offsets, so per-key depths,
  * join fan-outs and duplicate RATES stay constant while volume grows —
  * the TPC-H scaling model (a bigger SF adds new customers/orders, it
  * does not deepen old ones). Used to measure the scaling curve of the
  * slowest gate queries beyond the largest driver-provided SF (the 2×
  * bench gate proves overhead floors, not curves).
  *
  *  - fact/dim keys get `replica * 10^9` offsets, applied consistently to
  *    PK and FK so intra-replica joins behave exactly like the original;
  *  - nation/region stay unreplicated (TPC-H fixed dimensions);
  *  - document text gets a per-replica token prefix, so replicas are
  *    disjoint near-dup universes (verbatim copies would manufacture a
  *    ×factor² pair blowup no real corpus has);
  *  - embeddings are circularly dim-rotated per replica (norm-preserving;
  *    rotated copies decorrelate, keeping the near-dup rate per replica).
  */
object GenScale {
  private val OFF = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sfscale"
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: per-replica key offset. Composing decades by
    // re-replicating an ALREADY-scaled dir needs a stride above its key
    // range (sf10's ids span ~100·1e9, so sf10→sf100 uses 1e12) — the
    // default stride would collide replica keys with existing ones.
    val off = if (args.length > 3) args(3).toLong else OFF
    val spark = graft.GraftConf.session("graft-genscale")

    def replicate(table: String, keyCols: Seq[String],
        mutate: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val parts = (0 until factor).map { r =>
        val shifted = keyCols.foldLeft(mutate(base, r)) { (df, k) =>
          df.withColumn(k, col(k) + lit(r * off))
        }
        shifted
      }
      parts.reduce(_ unionByName _)
        .repartition(32) // output layout (32 files a table), not parallelism
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"$table: ${spark.read.parquet(s"$out/$table.parquet").count()} rows")
    }

    // fixed dimensions: copy as-is
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // Entity NAME columns must be replica-distinct like their keys: TPC-H
    // scaling gives each new supplier/customer a new name. Leaving names
    // verbatim makes every name appear `factor` times, which turns any
    // name-blocked operator quadratic IN THE FIXTURE, not in the code —
    // measured: q104's deletion-neighborhood buckets held factor× entries
    // and its true dist-0 pair count grew factor²× (346 s and a full disk
    // at sf10). The 4-char repeated-pair suffix keeps same-replica edit
    // distances unchanged and puts cross-replica names ≥2 edits apart
    // (> the gate's maxDist=1), so dup RATES stay constant per replica.
    def nameSuffix(r: Int): String = {
      val c1 = ('a' + r / 10).toChar; val c2 = ('a' + r % 10).toChar
      s"$c1$c1$c2$c2"
    }
    def suffixName(colName: String)(df: DataFrame, r: Int): DataFrame =
      if (r == 0) df
      else df.withColumn(colName, concat(col(colName), lit(nameSuffix(r))))
    replicate("customer", Seq("c_custkey"), suffixName("c_name"))
    replicate("supplier", Seq("s_suppkey"), suffixName("s_name"))
    replicate("part", Seq("p_partkey"), suffixName("p_name"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (df, r) =>
      // per-replica token prefix keeps replicas out of each other's
      // shingle/minhash/simhash universes (dup rate constant per replica).
      // LETTERS ONLY: a digit in the prefix would be invisible to
      // [a-z]+ tokenizers (every replica collapses to the same "x word"
      // stream — measured: 200k phantom cross-replica pairs)
      if (r == 0) df
      else {
        // two base-26 letters: single ('a'+r) walks off 'z' at r=26 and
        // the replica tag stops being a token the [A-Za-z]+ tokenizers see
        val tag = "xq" + ('a' + r / 26).toChar + ('a' + r % 26).toChar
        df.withColumn("text", regexp_replace(col("text"), "([A-Za-z]+)", s"$tag$$1"))
      })
    replicate("embeddings", Seq("vec_id"), (df, r) =>
      // circular rotation, norm-preserving, decorrelates replicas. The
      // vectors are 64-dim, so a raw rotation by r degenerates to the
      // IDENTITY at r ≥ 64 (slice(r+1,∞) empties out) — replica 64 would
      // be a verbatim copy of replica 0 and manufacture a cross-replica
      // near-dup blowup. Rotate by 1+((r−1) mod 63) ∈ [1,63] instead, and
      // flip the sign on each 63-replica wrap: identical (rot, sign)
      // pairs only recur at period 126 > any factor used here.
      if (r == 0) df
      else {
        val rot = 1 + (r - 1) % 63
        val flip = if (((r - 1) / 63) % 2 == 1) -1.0f else 1.0f
        val rotated = concat(slice(col("embedding"), rot + 1, 10000),
          slice(col("embedding"), 1, rot))
        df.withColumn("embedding",
          if (flip == 1.0f) rotated
          else transform(rotated, x => x * lit(flip)))
      })
    spark.stop()
  }
}
