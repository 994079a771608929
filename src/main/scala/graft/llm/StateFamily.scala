package graft.llm

import graft.ops.{CacheRegistry, Layout}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** How a state family lays its epochs out: `tag` names the layout in the
  * family's stamp; `sortCols` is the key every write sorts on, its head
  * the family's probe key; `options` are the parquet writer options
  * (row-group size, blooms).
  *
  * Whole-family rewrites (compaction, landing, replacing) range-cluster
  * on `sortCols` once they span several files. Appends coalesce instead,
  * unless `clusterAppends`: a range-clustered append costs a sampling job
  * plus a full shuffle of the increment, which only the band family's
  * key-skipping probe pays back.
  *
  * Two append modes, because the two kinds of state take an at-least-once
  * re-run differently: membership indexes (the dedup families) absorb a
  * crashed epoch's duplicate rows — candidates are distinct'd, membership
  * is a semi-join — so they plain-append; the streaming operators' state
  * (additive counts, one score per document) would double-count them, so
  * `replaceEpoch` makes a re-run overwrite the writer's own epoch.
  */
private[graft] final case class FamilyLayout(tag: String,
    sortCols: Seq[String] = Nil,
    options: Map[String, String] = Map.empty,
    replaceEpoch: Boolean = false,
    clusterAppends: Boolean = false)

/** One epoch-partitioned state directory, and the single owner of its
  * layout: `epoch=N` partition directories, `epoch < current` visibility
  * (a writer's own epoch stays invisible to its reads, so a re-run of a
  * crashed epoch is idempotent), a negative sentinel generation after
  * compaction, and a stamp holding the layout tag and the data schema.
  *
  * Opening checks the stamp once, through the Hadoop FS API (no Spark
  * job): a family opened with a schema other than the one it was written
  * with, or a directory holding unstamped data, throws — an explicit-schema
  * parquet read would otherwise return NULLs for every missing column.
  */
private[graft] final class StateFamily(spark: SparkSession, val path: String,
    val dataSchema: StructType, val layout: FamilyLayout) {
  import StateFamily._

  require(!dataSchema.fieldNames.contains("epoch"),
    s"state family at $path: the data schema must not carry the epoch partition column")

  private val dir = new Path(path)
  private val fs: FileSystem = graft.GraftConf.fileSystem(spark, dir)
  private var stamped = readStamp(fs, dir) match {
    case None =>
      if (exists) throw new IllegalStateException(
        s"state family at $path holds data but no $StampFile stamp; it cannot be " +
          s"read as layout '${layout.tag}' schema ${dataSchema.catalogString}")
      false
    case Some((tag, schema)) =>
      if (tag != layout.tag || schema.catalogString != dataSchema.catalogString)
        throw new IllegalStateException(s"state family at $path is stamped with " +
          s"layout '$tag' schema ${schema.catalogString}, but was opened with layout " +
          s"'${layout.tag}' schema ${dataSchema.catalogString}")
      true
  }

  /** Whether the family holds DATA: a zero-row write leaves a directory
    * with only `_SUCCESS`, and a parquet read of that throws at plan time.
    */
  def exists: Boolean = Layout.hasParquetData(fs, dir)

  /** The epoch set: the partition directory names, one listing (never a
    * distinct job over the whole family).
    */
  def epochs: Set[Long] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong).toSet

  /** Every row with its typed `epoch`, read with the family's schema: a
    * bare `spark.read.parquet` re-infers it on the driver from footers
    * (65-80 ms warm per call, measured on a 4-core box) for a schema the
    * writer fixed once. Partition discovery still happens.
    */
  def read: DataFrame =
    spark.read.schema(StructType(dataSchema.fields :+ StructField("epoch", LongType)))
      .parquet(path)

  /** The SETTLED rows, `epoch < before`, without the epoch column. An
    * empty family reads as an empty frame, which keeps a stream of empty
    * batches alive.
    */
  def settled(before: Long): DataFrame =
    if (!exists) spark.createDataFrame(java.util.Collections.emptyList[Row](), dataSchema)
    else read.filter(col("epoch") < before).drop("epoch")

  /** Append `df` (the data columns) as epoch `epoch`. `nFiles` > 0 sizes
    * the write to that many files; 0 keeps `df`'s partitioning. The stamp
    * lands before the first data file, so no reader ever sees data it
    * cannot check.
    */
  def append(df: DataFrame, epoch: Long, nFiles: Int = 0): Unit = labelled("append") {
    require(df.schema.catalogString == dataSchema.catalogString,
      s"state family at $path: appended schema ${df.schema.catalogString} " +
        s"is not the family's ${dataSchema.catalogString}")
    if (!stamped) {
      writeStamp(dir)
      stamped = true
    }
    write(df.withColumn("epoch", lit(epoch)), nFiles, path,
      if (layout.replaceEpoch) "dynamic" else "append", layout.clusterAppends)
  }

  /** The fingerprint-membership probe of a key family (the exact and gram
    * indexes): the settled keys among `keys` — the batch's distinct key
    * set, shaped like the family's data — are handed to `consume` while
    * cached, then the keys new to the family append as `epoch`, sized to
    * their count. History is scanned with the batch's keys broadcast into
    * it (nothing history-sized shuffles) and, for trigger-sized batches,
    * with `key IN (…)` pushed so the key-sorted, bloom-filtered files skip
    * row groups — the compacted sentinel above all — instead of reading
    * O(history) keys.
    */
  def probeAppend[T](keys: DataFrame, epoch: Long)(
      consume: DataFrame => T): T = labelled("probeAppend") {
    require(layout.sortCols.nonEmpty, s"state family at $path: a probe needs a sort key")
    val k = layout.sortCols.head
    // cached across its two consumers (the caller's materialization and
    // the fresh-key anti-join): recomputing would re-run the probed scan
    CacheRegistry.during(if (!exists) keys.limit(0) else {
      val hist = settled(epoch)
      Dedup.pushableKeys(keys).fold(hist)(vs => hist.filter(col(k).isin(vs: _*)))
        .join(broadcast(keys), Seq(k), "left_semi").distinct()
    }) { seen =>
      val out = consume(seen)
      CacheRegistry.during(keys.join(seen, Seq(k), "left_anti")) { fresh =>
        append(fresh, epoch, Layout.sizedFileCount(fresh.count()))
      }
      out
    }
  }

  /** The additive-count verb of the streaming operators. `counts` is the
    * batch's count triplets: a `c` column, last, summed per the columns
    * before it. It appends as epoch `epoch`; when `emit`, `snapshot` gets
    * the settled epochs and this append, read back and summed per key: a
    * scan, not a cache, so its consumers can share an aggregate's
    * exchange. Every `compactEvery`-th epoch (0 = never) then folds the
    * settled epochs with the same sum. Counts are additive, so the fold is
    * decision-neutral, and `replaceEpoch` makes a re-run replace its own
    * epoch instead of counting the batch twice.
    */
  def accumulate(counts: DataFrame, epoch: Long, compactEvery: Int, emit: Boolean = true)(
      snapshot: DataFrame => Unit): Unit = labelled("accumulate") {
    require(layout.replaceEpoch, s"state family at $path: additive counts need replaceEpoch")
    val keys = counts.columns.filter(_ != "c").map(col)
    def summed(df: DataFrame) = df.groupBy(keys: _*).agg(sum(col("c")).as("c"))
    append(counts, epoch)
    if (emit) snapshot(summed(settled(epoch + 1)))
    if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) compact(summed)
  }

  /** Fold every SETTLED epoch — all but the newest — through `fold` into
    * one negative sentinel generation, one below any existing epoch and
    * so visible to every `epoch < current` reader. The newest epoch stays
    * live: an at-least-once re-run of it must not see its own rows.
    *
    * Crash safety without a lose-everything window: the generation is
    * staged durably, renamed in, and only then are the folded partitions
    * deleted: a crash in between leaves the folded epochs beside their
    * generation until the next compaction, never a lost epoch.
    *
    * Sized by the folded epochs' footer rows (no job): near exact for the
    * dedup folds, up to k + 1 times high for `accumulate`'s summed fold
    * (`compactEvery` = k; its keys recur in every epoch; ROADMAP).
    */
  def compact(fold: DataFrame => DataFrame): Unit = {
    val es = epochs.toIndexedSeq.sorted
    if (es.length <= 1) return // nothing settled to fold
    labelled("compact") {
      val sentinel = math.min(-1L, es.head - 1L)
      val folded = fold(read.filter(col("epoch") < es.last).drop("epoch"))
      require(folded.schema.catalogString == dataSchema.catalogString,
        s"state family at $path: fold changed the schema to ${folded.schema.catalogString}")
      val stage = path + ".__graft_compact_stage"
      write(folded.withColumn("epoch", lit(sentinel)),
        Layout.sizedFileCount(es.init.map(footerRows).sum), stage, "overwrite", cluster = true)
      // Hadoop rename reports most failures as FALSE; unchecked, the deletes would lose data
      require(fs.rename(new Path(stage, s"epoch=$sentinel"), new Path(dir, s"epoch=$sentinel")),
        s"compaction rename failed; staged generation left at $stage")
      es.init.foreach(e => fs.delete(new Path(dir, s"epoch=$e"), true))
      fs.delete(new Path(stage), true)
    }
  }

  /** Epoch `e`'s rows, from its data files' parquet footers (no Spark job). */
  private def footerRows(e: Long): Long =
    fs.listStatus(new Path(dir, s"epoch=$e")).iterator.filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => scala.util.Using.resource(
        ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf)))(_.getRecordCount)).sum

  /** Land whole epochs that do not exist yet (`rows` carry their own
    * `epoch`): staged, then renamed in one epoch at a time, so an epoch
    * directory only becomes visible complete and a crash leaves each
    * epoch either fully landed or absent.
    */
  def land(rows: DataFrame, nFiles: Int, landed: Seq[Long]): Unit = labelled("land") {
    val stage = new Path(path + ".__graft_backfill_stage")
    fs.delete(stage, true) // sweep a prior crash's leftovers
    write(rows, nFiles, stage.toString, "overwrite", cluster = true)
    for (e <- landed) {
      val src = new Path(stage, s"epoch=$e")
      if (fs.exists(src))
        require(fs.rename(src, new Path(dir, s"epoch=$e")), s"landing rename failed for epoch=$e")
    }
    fs.delete(stage, true)
  }

  /** Replace the whole family with `rows` (carrying `epoch`): staged and
    * stamped, then swapped land-then-retire, so a crash leaves either the
    * old family or none — never a partial one (and the next replace
    * sweeps the leftovers).
    */
  def replace(rows: DataFrame, nFiles: Int): Unit = labelled("replace") {
    val stage = new Path(path + RebuildStage)
    val old = new Path(path + RebuildOld)
    fs.delete(stage, true); fs.delete(old, true) // sweep prior crashes
    write(rows, nFiles, stage.toString, "overwrite", cluster = true)
    writeStamp(stage)
    if (fs.exists(dir)) require(fs.rename(dir, old), s"retire rename failed for $path")
    require(fs.rename(stage, dir), s"land rename failed for $path")
    fs.delete(old, true)
  }

  /** `body` with its Spark jobs described as `verb` on this family. */
  private def labelled[T](verb: String)(body: => T): T =
    graft.GraftConf.withJobDescription(spark, s"StateFamily.$verb $path")(body)

  private def writeStamp(under: Path): Unit = {
    fs.mkdirs(under)
    val out = fs.create(new Path(under, StampFile), true)
    try out.write(s"${layout.tag}\n${dataSchema.json}".getBytes("UTF-8")) finally out.close()
  }

  private def write(rows: DataFrame, nFiles: Int, dest: String, mode: String,
      cluster: Boolean): Unit = {
    val keys = layout.sortCols.map(col)
    val clustered =
      if (nFiles <= 0) rows
      else if (nFiles == 1 || keys.isEmpty || !cluster) rows.coalesce(nFiles)
      else rows.repartitionByRange(nFiles, keys: _*)
    // the sort LEADS with the partition column: partitionBy's writer
    // requires ordering by it and would otherwise insert its own (unstable)
    // sort, silently destroying the key order (measured: an "id-sorted"
    // sentinel came back with full-range stats per group)
    val sorted =
      if (keys.isEmpty) clustered else clustered.sortWithinPartitions((col("epoch") +: keys): _*)
    val w = sorted.write.options(layout.options)
    (if (mode == "dynamic") w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     else w.mode(mode)).partitionBy("epoch").parquet(dest)
  }
}

private[graft] object StateFamily {

  /** The stamp: layout tag, then the data schema as JSON. Leading `_`
    * keeps it invisible to parquet directory reads.
    */
  val StampFile = "_graft_family"

  private val RebuildStage = ".__graft_rebuild_stage"
  private val RebuildOld = ".__graft_rebuild_old"

  /** The layout of the streaming operators' per-batch state (count
    * triplets, arrival scores): a re-run of a batch replaces its epoch.
    */
  val Stream = FamilyLayout("stream-v1", replaceEpoch = true)

  /** Open the family at `path` with the schema its stamp holds — for the
    * verbs that run without a batch in hand (compaction). None when the
    * directory holds no data; unstamped data throws.
    */
  def stamped(spark: SparkSession, path: String, layout: FamilyLayout): Option[StateFamily] = {
    val dir = new Path(path)
    val fs = graft.GraftConf.fileSystem(spark, dir)
    if (!Layout.hasParquetData(fs, dir)) None
    else readStamp(fs, dir) match {
      case Some((_, schema)) => Some(new StateFamily(spark, path, schema, layout))
      case None =>
        throw new IllegalStateException(s"state family at $path holds data but no $StampFile stamp")
    }
  }

  /** Delete the family at `path`, with any leftovers of a crashed replace. */
  def drop(spark: SparkSession, path: String): Unit = {
    val fs = graft.GraftConf.fileSystem(spark, new Path(path))
    Seq("", RebuildStage, RebuildOld).foreach(s => fs.delete(new Path(path + s), true))
  }

  private def readStamp(fs: FileSystem, dir: Path): Option[(String, StructType)] = {
    val p = new Path(dir, StampFile)
    if (!fs.exists(p)) None
    else {
      val (tag, json) = readText(fs, p).span(_ != '\n')
      Some((tag, DataType.fromJson(json.trim).asInstanceOf[StructType]))
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
  }

  /** Lock-file name guarding an index directory's lifecycle (single
    * writer). Leading `_` keeps it invisible to parquet directory reads.
    */
  val LockFile = "_graft_lock"

  /** Default lease TTL (ms): a holder older than this is presumed crashed
    * and its lease may be stolen. Override per-session with the Spark conf
    * `spark.graft.index.leaseTtlMs`.
    */
  val LeaseTtlMsDefault: Long = 30L * 60 * 1000

  /** Create-exclusive lease over the directory `dir` (the index holding
    * one or more families) for the duration of `body` — the single-writer
    * contract made LOUD: an increment racing a compaction would otherwise
    * read partitions mid-delete (silently wrong keep decisions), so the
    * second writer must fail, not proceed. The lease is released on every
    * non-crash exit.
    *
    * Crashed holders self-heal: acquisition checks the held lock's age
    * (its mtime — the holder stamps the tag at acquire time and never
    * touches it again), and past the TTL the lease is STOLEN via atomic
    * rename-to-tombstone — of N concurrent stealers exactly ONE wins the
    * rename (HDFS/POSIX rename atomicity), re-acquires create-exclusive,
    * and proceeds; the losers see their rename fail and report locked.
    * Delete-then-create would instead let a slow loser delete the
    * winner's FRESH lock. The at-rest content is crash-safe by
    * construction either way (epoch isolation), so stealing only risks
    * duplicated work, never corruption.
    *
    * The age check and the steal's rename are not atomic: a loser that
    * judged the OLD lease stale may rename away the winner's FRESH one. It
    * sees the tombstone's mtime differ from the one it judged and hands
    * the lease back. That narrows the window without closing it: while the
    * loser holds the tombstone no lock exists, so a third writer's
    * create-exclusive succeeds — the hand-back then fails (HDFS; the
    * tombstone is deleted, not leaked) or overwrites the third writer's
    * lock (local rename replaces), and two writers run. A winner that
    * finishes inside the window gets its released lease handed back, which
    * then blocks every writer until the TTL passes.
    */
  def withLease[T](spark: SparkSession, dir: String, op: String)(body: => T): T = {
    val lock = new Path(dir.stripSuffix("/") + "/" + LockFile)
    val fs = graft.GraftConf.fileSystem(spark, lock)
    fs.mkdirs(lock.getParent)
    val ttlMs = graft.GraftConf.longConf(spark, "spark.graft.index.leaseTtlMs", LeaseTtlMsDefault)
    // the holder's tag is read on this failure path only; a holder that
    // released in between leaves no tag to name
    def locked() = {
      val holder = try readText(fs, lock)
        catch { case _: java.io.IOException => "a writer that has since released" }
      new IllegalStateException(
        s"index at $dir is locked: '$op' refused while held by '$holder' — " +
        s"index operations are single-writer; retry after it finishes (a " +
        s"crashed holder's lease self-heals after ${ttlMs} ms)")
    }
    // TTL steal: returns true when THIS caller renamed the stale lock away
    // and may retry the create-exclusive acquisition exactly once.
    def stealIfStale(): Boolean = {
      val mtime = try fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => return true } // holder just released
      if (System.currentTimeMillis() - mtime <= ttlMs) false
      else {
        val tomb = new Path(lock.getParent, LockFile + ".stale." + java.util.UUID.randomUUID())
        val won = try fs.rename(lock, tomb) catch { case _: java.io.IOException => false }
        // a racer that stole first may have re-acquired in between, and
        // the rename then took ITS fresh lease (rename keeps the mtime):
        // hand it back, or drop it if a third writer holds the lock now
        if (won && fs.getFileStatus(tomb).getModificationTime != mtime) {
          if (!(try fs.rename(tomb, lock) catch { case _: java.io.IOException => false }))
            fs.delete(tomb, false)
          false
        } else {
          if (won) fs.delete(tomb, false)
          won
        }
      }
    }
    // Acquisition must be ATOMIC create-exclusive. Hadoop's
    // create(overwrite=false) is atomic on HDFS but RawLocal/Checksum
    // filesystems implement it as exists()-then-create — two racers can
    // both pass the check. For file:// paths use O_EXCL via NIO instead;
    // only a genuine already-exists maps to the "locked" error, any other
    // IO failure (permissions, disk full) propagates as itself.
    // branch on the RESOLVED filesystem, not the raw URI: a scheme-less
    // path under fs.defaultFS=hdfs:// must take the Hadoop branch — the
    // raw scheme is null there and NIO would lock the driver's local
    // disk. (fs.getUri, not fs.getScheme: the latter THROWS on
    // FileSystem impls that never override it.)
    // the tag records holder + acquire time (diagnostics; staleness itself
    // reads the mtime, which this write stamps and nothing later touches)
    val tag = s"$op acquired_ms=${System.currentTimeMillis()}"
    def tryCreate(): Boolean =
      if (fs.getUri.getScheme == "file") {
        val local = java.nio.file.Paths.get(fs.makeQualified(lock).toUri.getPath)
        try java.nio.file.Files.createFile(local)
        catch { case _: java.nio.file.FileAlreadyExistsException => return false }
        try java.nio.file.Files.write(local, tag.getBytes("UTF-8"))
        catch { case e: Throwable => fs.delete(lock, false); throw e }
        true
      } else {
        val out = try fs.create(lock, false) catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case e: java.io.IOException if fs.exists(lock) => return false
        }
        // a failed holder-tag write must not leak the acquired lock
        try out.write(tag.getBytes("UTF-8")) catch {
          case e: Throwable => out.close(); fs.delete(lock, false); throw e
        }
        out.close()
        true
      }
    // acquire, with at most ONE steal retry: a second already-exists after
    // a won steal means a live third writer re-acquired first — locked.
    if (!tryCreate() && !(stealIfStale() && tryCreate())) throw locked()
    try body finally fs.delete(lock, false)
  }
}

/** The micro-batch shell of the epoch-state streaming operators (unigram
  * drift q158, quality-quantile q170/q186, NB training q171, streaming
  * near/exact dedup): session clone, file stream, drain, snapshot writes.
  */
private[llm] object EpochStream {

  /** Run `body` per micro-batch over a maxFilesPerTrigger=1 file stream
    * of `stagedDir`, on a session clone with shuffle partitions sized to
    * the staged source ([[Layout.adaptivePartsForDir]] — a fixed small
    * count makes every per-batch aggregate run the whole scaled increment
    * through that many partitions; measured superlinear at the 100×
    * replay fixture). The `body`'s queries run with AQE on, so the size
    * is the shuffle partition count AQE starts from before it coalesces.
    * (On Events' stateful queries the same clone setting also fixes the
    * state-store count; this stream keeps no state.) Every batch's jobs
    * are described `EpochStream.drain <stagedDir> batch <id>`.
    */
  def drain(spark: SparkSession, stagedDir: String, schema: StructType,
      checkpointDir: Option[String])(body: (DataFrame, Long) => Unit): Unit = {
    val s2 = graft.GraftConf.cloneSession(spark, Layout.adaptivePartsForDir(stagedDir))
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir)
    val labelled: (DataFrame, Long) => Unit = (df, id) =>
      graft.GraftConf.withJobDescription(s2, s"EpochStream.drain $stagedDir batch $id")(body(df, id))
    val writer = stream.writeStream.foreachBatch(labelled)
    val q = checkpointDir.fold(writer)(c => writer.option("checkpointLocation", c)).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** [[drain]], then the snapshots `body` wrote to `outDir` read back on
    * the CALLER's session as `snapshotSchema` plus `batch_id BIGINT`.
    * The typed read needs no footer-inference job, and a stream that
    * wrote no row (no `outDir`, or only `_SUCCESS` in it) reads as the
    * empty result instead of throwing.
    */
  def run(spark: SparkSession, stagedDir: String, schema: StructType,
      checkpointDir: Option[String], outDir: String,
      snapshotSchema: StructType)(body: (DataFrame, Long) => Unit): DataFrame = {
    drain(spark, stagedDir, schema, checkpointDir)(body)
    val typed = snapshotSchema.add(StructField("batch_id", LongType))
    val out = new Path(outDir)
    if (Layout.hasParquetData(graft.GraftConf.fileSystem(spark, out), out))
      spark.read.schema(typed).parquet(outDir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), typed)
  }

  /** Per-batch snapshot write, idempotent under at-least-once re-runs
    * (dynamic overwrite of this batch's own partition).
    */
  def writeSnapshot(df: DataFrame, outDir: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
}
