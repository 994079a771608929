package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** At-rest layout API (SURVEY.md §2.10 sink surface): the three layouts
  * that decide 100 TB read cost, as first-class operations.
  *
  *  - PARTITIONED parquet: directory-per-value layout; predicate on the
  *    partition column becomes partition PRUNING (directories never
  *    listed, verified in SinkSpec via PartitionFilters).
  *  - BUCKETED table: pre-hashed layout on the join/agg key; equal keys
  *    co-locate, so later joins/aggregations on that key run with ZERO
  *    shuffle (verified in ScaleSpec: no Exchange in the joined plan).
  *  - Arrow batch directory: raw record-batch payloads for zero-ETL
  *    handoff (ArrowInterop.writeBatchDir).
  *
  * Parquet remains the at-rest encoding (the reference's own storage
  * boundary); these wrappers pin the repo's layout conventions.
  */
object Sinks {

  /** Partitioned parquet sink — reads filtered on `partitionCols` prune. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed+sorted managed table — joins/aggs on `keys` shuffle-free.
    * (Bucketing requires the table catalog; plain file sinks can't carry
    * the bucket spec.)
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Read back a partitioned dataset (partition columns reappear as data
    * columns; filters on them prune directories).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-file column-statistics manifest: (file, n_rows, min_c/max_c per
    * requested column) — the data-skipping index a 100 TB table keeps
    * next to its files (Delta/Iceberg metadata, Hudi column-stats index).
    * Built with ONE columnar scan of just the requested columns (parquet
    * reads only those pages), grouped by `input_file_name`. This is the
    * generic (any-column-type) builder; `writeStatsManifest` persists a
    * footer-derived manifest so pruned READS never pay this scan.
    */
  def statsManifest(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Sidecar directory name for the persisted manifest. Leading `_` makes
    * it invisible to Spark's file index, so `spark.read.parquet(path)`
    * never picks the manifest up as data (the `_delta_log` convention).
    */
  val ManifestDir = "_graft_stats"
  private val FingerprintFile = "_FINGERPRINT"

  /** Persist the per-file stats manifest NEXT TO the layout — the
    * Delta/Iceberg column-stats contract: built once at layout-write
    * time, consumed by every pruned read. The build reads parquet
    * FOOTERS only (row-group statistics — a few KB of metadata per
    * file, zero data pages), distributed over the file list, so even
    * the build is not a table scan. Alongside the stats a fingerprint
    * of the file listing is stored; `prunedFiles` re-derives it from
    * the live listing (a names-only metadata op the read's own planning
    * performs anyway) and fails LOUDLY on mismatch — a stale manifest
    * must never silently drop rows.
    *
    * Columns must be INT32/INT64-backed (int/long/date) — the numeric
    * range-pruning surface `readPruned` serves; files whose footer lacks
    * stats for a column get nulls (= never pruned, conservatively kept).
    */
  def writeStatsManifest(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val dataFiles = listDataFiles(spark, path)
    require(dataFiles.nonEmpty, s"no parquet data files under $path")
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(graft.GraftConf.hadoopConf(spark)))
    val colsB = spark.sparkContext.broadcast(cols)
    val nTasks = math.max(1, math.min(dataFiles.size, 32))
    val rows = spark.sparkContext.parallelize(dataFiles.map(_._1), nTasks).map { name =>
      val (n, stats) = footerStats(confB.value.value, s"$path/$name", colsB.value)
      org.apache.spark.sql.Row.fromSeq(
        name +: Long.box(n) +: stats.flatMap { case (mn, mx) =>
          Seq(mn.map(Long.box).orNull, mx.map(Long.box).orNull) })
    }
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("n_rows", LongType, nullable = false) +:
      cols.flatMap(c => Seq(
        StructField(s"min_$c", LongType, nullable = true),
        StructField(s"max_$c", LongType, nullable = true))))
    val maniPath = s"${path.stripSuffix("/")}/$ManifestDir"
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(maniPath)
    writeText(spark, s"$maniPath/$FingerprintFile", fingerprint(dataFiles))
  }

  /** Min/max (as longs) + row count from one file's parquet footer. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration, file: String,
      cols: Seq[String]): (Long, Seq[(Option[Long], Option[Long])]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var n = 0L
      val it = blocks.iterator()
      val agg = scala.collection.mutable.Map.empty[String, (Long, Long)]
      var missing = Set.empty[String]
      while (it.hasNext) {
        val b = it.next(); n += b.getRowCount
        val cIt = b.getColumns.iterator()
        while (cIt.hasNext) {
          val cc = cIt.next()
          val cName = cc.getPath.toDotString
          if (cols.contains(cName)) {
            val s = cc.getStatistics
            val lohi: Option[(Long, Long)] =
              if (s == null || !s.hasNonNullValue) None
              else s.genericGetMin match {
                case l: java.lang.Long    => Some((l.longValue, s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                case i: java.lang.Integer => Some((i.longValue, s.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                case _                    => None // non-integer physical type: no pruning stats
              }
            lohi match {
              case Some((lo, hi)) =>
                val cur = agg.get(cName)
                agg(cName) = cur.fold((lo, hi))(c => (math.min(c._1, lo), math.max(c._2, hi)))
              case None => missing += cName // one statless row group poisons the file's stats
            }
          }
        }
      }
      (n, cols.map { c =>
        if (missing.contains(c)) (None, None)
        else agg.get(c) match {
          case Some((lo, hi)) => (Some(lo), Some(hi))
          case None           => (None, None)
        }
      })
    } finally reader.close()
  }

  /** Non-hidden parquet data files directly under `path` as
    * (basename, length, modificationTime) — basenames so the manifest
    * survives a directory move; length+mtime feed the fingerprint so an
    * in-place rewrite that keeps names (distcp -overwrite, an external
    * compactor with stable naming) still reads as a CHANGED layout.
    */
  private def listDataFiles(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.GraftConf.fileSystem(spark, p)
    fs.listStatus(p).toIndexedSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      })
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  /** Names + lengths + mtimes, NOT names alone: a same-name rewrite with
    * different contents must invalidate the manifest, or readPruned would
    * silently drop rows from stale stats — the one failure mode a
    * skipping index must never have. (A byte-identical copy that only
    * refreshes mtime reads as stale too — a false POSITIVE that fails
    * loudly and heals with one writeStatsManifest, the safe direction.)
    */
  private def fingerprint(files: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val payload = files.sortBy(_._1)
      .map { case (n, len, mt) => n + ":" + len + ":" + mt }.mkString("\n")
    val hex = md.digest(payload.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"${files.size}\n$hex"
  }

  private def writeText(spark: SparkSession, file: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = graft.GraftConf.fileSystem(spark, p)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(spark: SparkSession, file: String): String = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = graft.GraftConf.fileSystem(spark, p)
    val in = fs.open(p)
    try {
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      new String(bytes, "UTF-8")
    } finally in.close()
  }

  /** The persisted manifest, if one exists — validated against the live
    * file listing first. Returns None when no manifest was ever written
    * (callers fall back to the scan-built one); throws when a manifest
    * exists but no longer matches the data files, because pruning from
    * stale stats silently loses rows — the one failure mode a skipping
    * index must never have.
    */
  def storedManifest(spark: SparkSession, path: String): Option[DataFrame] = {
    val maniPath = s"${path.stripSuffix("/")}/$ManifestDir"
    val p = new org.apache.hadoop.fs.Path(maniPath)
    val fs = graft.GraftConf.fileSystem(spark, p)
    if (!fs.exists(p)) None
    else {
      val want = readText(spark, s"$maniPath/$FingerprintFile")
      val got = fingerprint(listDataFiles(spark, path))
      if (want != got) throw new IllegalStateException(
        s"stats manifest at $maniPath is STALE (data files changed since " +
        "writeStatsManifest) — rewrite the manifest after every layout change")
      Some(spark.read.parquet(maniPath))
    }
  }

  /** MERGE / upsert into a partitioned parquet layout — the missing DML
    * verb for an at-rest table: rows in `updates` replace same-key rows,
    * new keys append. The rewrite is PARTITION-LIMITED: only partitions
    * present in `updates` are read, merged (anti-join on the keys) and
    * swapped via dynamic partition overwrite — a 100 TB table with a
    * day's worth of updates rewrites a day's partitions, not the table.
    *
    * Contract: updates must keep each key's partition value (the
    * date-partitioned-fact norm). A partition-moving update would leave
    * the old row alive in its old partition — detecting that requires a
    * full key scan, which is exactly the cost this operator exists to
    * avoid; use a full rewrite when keys can change partitions.
    */
  def mergeUpsert(spark: SparkSession, path: String, updates: org.apache.spark.sql.DataFrame,
      keys: Seq[String], partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val affected = updates.select(col(partitionCol)).distinct().collect().map(_.get(0))
    // NULL-safe partition membership (the deleteByKeys lesson): isin()
    // never matches a NULL probe, so a plain filter would SKIP reading
    // the NULL partition while the dynamic overwrite still REPLACES it
    // (the updates carry NULL rows into the merged set) — silently
    // dropping every unmatched row the NULL partition held.
    val nonNullAffected = affected.filter(_ != null)
    val hasNullAffected = affected.exists(_ == null)
    val partHit = {
      val inNonNull = if (nonNullAffected.isEmpty) lit(false)
        else col(partitionCol).isin(nonNullAffected.toIndexedSeq: _*)
      if (hasNullAffected) inNonNull || col(partitionCol).isNull else inNonNull
    }
    val target = spark.read.parquet(path).filter(partHit)
    val merged = updates.unionByName(
      target.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti"))
    // the overwrite replaces partitions the merge plan READS, so the
    // merged working set must be materialized first — and DURABLY: an
    // unreplicated localCheckpoint would make the merged rows' only copy
    // an executor's local blocks, so losing one mid-overwrite strands the
    // table with no recovery source. Stage to a sibling directory instead
    // (the compactBatchDir pattern): the overwrite then sources from
    // at-rest parquet independent of the rows it replaces, and a crash
    // mid-commit is replayable from the stage.
    val stage = path.stripSuffix("/") + ".__graft_merge_stage"
    merged.write.mode("overwrite").parquet(stage)
    spark.read.parquet(stage).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    val fs = graft.GraftConf.fileSystem(spark, new org.apache.hadoop.fs.Path(stage))
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Targeted DELETE from a partitioned parquet layout — the
    * right-to-be-forgotten / retention verb beside [[mergeUpsert]]'s
    * upsert: rows whose keys appear in `deletes` are removed, and the
    * rewrite is PARTITION-LIMITED — only partitions actually HOLDING a
    * doomed key are read, anti-joined and swapped via dynamic partition
    * overwrite (a 100 TB corpus with one user's deletion request
    * rewrites that user's partitions, not the table). Deleting keys that
    * do not exist is a no-op. A partition whose every row is deleted is
    * REMOVED outright (dynamic overwrite alone would silently leave its
    * old files alive — it only replaces partitions present in the new
    * data).
    *
    * Returns the audit frame every compliance pipeline must file:
    * (partition value, n_before, n_deleted, n_after) for each REWRITTEN
    * partition — computed eagerly before the swap (|hit partitions|
    * rows; the result must not lazily re-read files the swap replaces).
    */
  def deleteByKeys(spark: SparkSession, path: String,
      deletes: org.apache.spark.sql.DataFrame, keys: Seq[String],
      partitionCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val target = spark.read.parquet(path)
    val delKeys = deletes.select(keys.map(col): _*).distinct()
    // partitions holding a doomed key: bounded metadata collect (the
    // mergeUpsert convention)
    val hits = target.join(broadcast(delKeys), keys, "left_semi")
      .select(col(partitionCol)).distinct().collect().map(_.get(0))
    val auditSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(partitionCol,
        target.schema(partitionCol).dataType),
      org.apache.spark.sql.types.StructField("n_before",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_deleted",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_after",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (hits.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), auditSchema)
    // NULL-safe partition membership: SQL IN over a list containing NULL
    // returns NULL (not true) for a NULL probe, so a plain isin() would
    // silently SKIP the NULL partition — its doomed rows would never be
    // rewritten. Split the hit set instead.
    val nonNullHits = hits.filter(_ != null)
    val hasNullHit = hits.exists(_ == null)
    val partHit = {
      val inNonNull = if (nonNullHits.isEmpty) lit(false)
        else col(partitionCol).isin(nonNullHits.toIndexedSeq: _*)
      if (hasNullHit) inNonNull || col(partitionCol).isNull else inNonNull
    }
    val affected = target.filter(partHit)
    val remaining = affected.join(broadcast(delKeys), keys, "left_anti")
    // audit BEFORE the swap, eagerly (|partitions| rows). The
    // before⋈after join must be NULL-SAFE (<=>): an equi-join would drop
    // the NULL partition's n_after and mis-report it as fully deleted.
    // __pstr renders the partition value with Spark's own Cast-to-string
    // — the exact rendering the dynamic-partition writer uses for dir
    // names (java.sql.Timestamp.toString would append '.0' and miss).
    val after = remaining.groupBy(col(partitionCol).as("__pc2"))
      .agg(count(lit(1)).as("n_after"))
    val auditRows = affected.groupBy(col(partitionCol)).agg(count(lit(1)).as("n_before"))
      .join(after, col(partitionCol) <=> col("__pc2"), "left")
      .select(col(partitionCol), col("n_before"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col(partitionCol).cast(org.apache.spark.sql.types.StringType).as("__pstr"))
      .collect()
    // durable stage, then dynamic overwrite (the mergeUpsert contract)
    val stage = path.stripSuffix("/") + ".__graft_delete_stage"
    remaining.write.mode("overwrite").parquet(stage)
    spark.read.parquet(stage).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    val fs = graft.GraftConf.fileSystem(spark, new org.apache.hadoop.fs.Path(stage))
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    // fully-emptied partitions: absent from the stage, so the overwrite
    // left their old files — remove the partition directories explicitly.
    // Directory names must match what Spark's dynamic-partition writer
    // produced: Hive-style escapePathName (space stays literal, '*' →
    // %2A, …) with NULL as __HIVE_DEFAULT_PARTITION__ — URL encoding
    // targets a different alphabet and would leave the old files alive,
    // silently resurrecting the supposedly-deleted rows on read.
    auditRows.filter(_.getAs[Long]("n_after") == 0L).foreach { r =>
      val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partitionCol, r.getAs[String]("__pstr"))
      fs.delete(new org.apache.hadoop.fs.Path(
        path.stripSuffix("/") + "/" + dir), true)
    }
    val outRows = auditRows.map(r => org.apache.spark.sql.Row(
      r.get(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.createDataFrame(java.util.Arrays.asList(outRows: _*), auditSchema)
  }

  /** Manifest-pruned read: keep only files whose [min,max] range on `c`
    * can overlap [lo, hi], then apply the residual row filter. With a
    * z-ordered or sorted layout most files drop out at the MANIFEST
    * (driver-side, one tiny row per file) before any data IO — the
    * skipping path that makes multi-dimensional clustering pay off.
    * Files with null stats (all-null column) are kept: absence of
    * evidence is not exclusion. Result ≡ full-scan filter, exactly.
    */
  def readPruned(spark: SparkSession, path: String, c: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val keep = prunedFiles(spark, path, c, lo, hi).collect().map(_.getString(0))
      .map(f => if (f.startsWith("/") || f.contains(":/")) f
                else s"${path.stripSuffix("/")}/$f") // stored manifests hold basenames
    val base = if (keep.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(keep.toIndexedSeq: _*)
    base.filter(col(c).between(lo, hi))
  }

  /** Surviving file paths for a range predicate — the overlap test runs
    * as a DISTRIBUTED filter over the manifest DataFrame, so the driver
    * only ever materializes files the scan plan will actually read
    * (bounded by predicate selectivity, the Delta/Iceberg planning
    * contract), never the full million-file listing with its stats.
    *
    * Source preference: the PERSISTED manifest (one footer-metadata read
    * at layout-write time, zero table scans per pruned read) when
    * `writeStatsManifest` has run; otherwise the scan-built one — so a
    * layout without a manifest still prunes correctly, it just pays the
    * stats scan this call (and a stale persisted manifest throws rather
    * than mispruning).
    */
  def prunedFiles(spark: SparkSession, path: String, c: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(lo <= hi, s"empty range [$lo, $hi]")
    val mn = col(s"min_$c").cast("long")
    val mx = col(s"max_$c").cast("long")
    val mani = storedManifest(spark, path).getOrElse(statsManifest(spark, path, Seq(c)))
    require(mani.columns.contains(s"min_$c"),
      s"stored manifest lacks stats for column '$c' — rewrite with writeStatsManifest")
    mani.filter(mn.isNull || mx.isNull || !(mx < lo || mn > hi))
      .select(col("file"))
  }
}
