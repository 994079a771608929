package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (ISO 28500) container ingest — the at-rest format real crawl
  * corpora arrive in (Common Crawl ships `.warc.gz`, one gzip member per
  * record). The crawl-layer operators (q175/q177/q178) start from an
  * `html` column; this source produces that column from raw container
  * bytes, making the crawl pipeline end-to-end from storage.
  *
  * 100 TB shape: one file = one task via `binaryFiles` (gzip forces a
  * sequential walk per file — the member boundaries ARE the record
  * boundaries, so there is no intra-file parallelism to be had; the
  * fleet parallelism is across the corpus's thousands of part files,
  * the standard CC processing layout). The record walk is a straight
  * byte scan (the WavHeader byte-walk style,
  * expressions/BinaryKernels.scala), `mapPartitions`-family code for the
  * same reason the codec family is: no Catalyst expression consumes a
  * whole file stream.
  *
  * Robustness contract (the forged-WAV guard, container-grade): a record
  * whose Content-Length overruns the file, whose header block is
  * malformed, or whose magic is wrong surfaces as a row with
  * `ok = false` (headers kept when parseable) — and the walk RESYNCS to
  * the next `WARC/1.0\r\n` magic so one corrupt record never silently
  * swallows the rest of the file. Reference anchor for the byte-offset
  * walk: `src/structs/variants/string.rs:106-115`.
  */
object Warc {

  private val Magic = "WARC/1.0\r\n".getBytes(UTF_8)

  private[graft] def httpPayload(html: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n" + html)
      .getBytes(UTF_8)

  /** One WARC response record. `forgeDelta` (test/guard hook) offsets the
    * declared Content-Length from the true payload size — a forged or
    * truncated record for the corruption batteries.
    */
  private[graft] def responseRecord(url: String, html: String,
      forgeDelta: Int = 0): Array[Byte] = {
    val p = httpPayload(html)
    val head = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      s"WARC-Target-URI: $url\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${p.length + forgeDelta}\r\n\r\n").getBytes(UTF_8)
    head ++ p ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** The per-file leading warcinfo record (real crawl files carry one). */
  private[graft] def warcinfoRecord(): Array[Byte] = {
    val p = "software: graft\r\nformat: WARC File Format 1.0\r\n".getBytes(UTF_8)
    val head = ("WARC/1.0\r\n" +
      "WARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\n" +
      s"Content-Length: ${p.length}\r\n\r\n").getBytes(UTF_8)
    head ++ p ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Distributed `.warc.gz` sink for (url, html) rows: one file per
    * partition, each record its own gzip member (the standard crawl
    * layout — GZIPOutputStream.finish() closes a member without closing
    * the stream, and multi-member streams decompress transparently on
    * read). Each file leads with a warcinfo record; `forgeTrailer`
    * appends one deliberately length-forged response record
    * (`urn:forged:<partition>`) per file for the corruption gate.
    */
  def writeWarcGz(df: DataFrame, urlCol: String, htmlCol: String, dir: String,
      forgeTrailer: Boolean = false): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      graft.GraftConf.hadoopConf(df.sparkSession))
    df.select(col(urlCol).cast("string"), col(htmlCol).cast("string")).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val path = new Path(dir, f"part-$pid%05d.warc.gz")
        val fs = path.getFileSystem(conf.value)
        val out = fs.create(path, true)
        try {
          def member(rec: Array[Byte]): Unit = {
            val gz = new java.util.zip.GZIPOutputStream(out, 8192)
            gz.write(rec)
            gz.finish() // member boundary; leaves `out` open
          }
          member(warcinfoRecord())
          it.foreach(r => member(responseRecord(r.getString(0), r.getString(1))))
          if (forgeTrailer) member(responseRecord(s"urn:forged:$pid", "x", forgeDelta = 64))
        } finally out.close()
        Iterator.single(pid)
      }.count() // materialize the write
  }

  private val schema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
    StructField("html", StringType, nullable = true)))

  /** Read a directory of `.warc` / `.warc.gz` files into one row per
    * record: (file, record_idx, warc_type, url, http_status, ok, html).
    * `html` is the HTTP response body for type=response records (other
    * types carry NULL); `ok = false` marks records the guard rejected
    * (forged length, malformed headers, bad magic).
    *
    * Memory contract: the walk is INCREMENTAL — the per-task buffer is
    * bounded by the largest single record (plus a 64 KiB floor), never
    * the decompressed file; [[MaxRecordBytes]] hard-caps that bound even
    * against a FORGED multi-GiB Content-Length (rejected before
    * buffering, not after). Real Common-Crawl members are ~1 GB gzip /
    * 4-5 GB raw; a whole-file materialization × 32 concurrent tasks
    * would exhaust any executor, while per-record buffering holds one
    * page-sized payload at a time. Gzip decodes through a streaming
    * (multi-member) GZIPInputStream; rows are emitted lazily from the
    * iterator, so Spark's pipelined consumers (filters, projections)
    * never see the whole file either.
    */
  def readWarc(spark: SparkSession, dir: String): DataFrame = {
    val rows = spark.sparkContext.binaryFiles(dir + "/*.warc*")
      .flatMap { case (file, stream) =>
        val name = new Path(file).getName
        val raw = new java.io.PushbackInputStream(
          new java.io.BufferedInputStream(stream.open(), 64 * 1024), 2)
        val b0 = raw.read(); val b1 = raw.read()
        if (b1 >= 0) raw.unread(b1)
        if (b0 >= 0) raw.unread(b0)
        val in =
          if (b0 == 0x1f && b1 == 0x8b)
            new java.util.zip.GZIPInputStream(raw, 64 * 1024)
          else raw
        // the walk closes `in` only when the iterator is EXHAUSTED; a
        // consumer that stops early (limit/take, task failure or kill
        // mid-partition) would leak the file/gzip handle per split —
        // tie the close to task completion so every exit path releases
        // it (double-close is a no-op on these streams)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          try in.close() catch { case _: Exception => () }
        }
        parseRecords(in).zipWithIndex.map { case (r, i) =>
          Row(name, i.toLong, r.warcType, r.url, r.status, r.ok, r.html)
        }
      }
    spark.createDataFrame(rows, schema)
  }

  private final case class Rec(warcType: String, url: String,
      status: java.lang.Integer, ok: Boolean, html: String)

  /** Header block cap: real WARC headers are < 1 KiB; a block with no
    * `\r\n\r\n` inside 1 MiB is treated as malformed (guard row + resync)
    * rather than buffered without bound — the one place the streaming
    * walk is deliberately STRICTER than an in-memory scan.
    */
  private val MaxHeaderBytes = 1 << 20

  /** Payload cap — the record-twin of [[MaxHeaderBytes]]: a record whose
    * declared Content-Length exceeds this is treated EXACTLY like a
    * forged length (guard row + resync) WITHOUT buffering it first.
    * Unbounded, `ensure(payloadStart + len)` would buffer the whole rest
    * of the stream before the lands-on-separator guard could reject —
    * i.e. a single corrupt record defeats the bounded-memory contract on
    * exactly the corrupt inputs the ok=false design exists to survive.
    * 256 MiB is far above any real crawl record (CC caps fetches at
    * ~5 MB) while keeping peak window < the 1 GiB point where doubling
    * growth would overflow Int.
    */
  private[graft] val MaxRecordBytes: Int = 1 << 28

  /** Sliding window over the stream for the record walk: bytes are held
    * from the current record's start only until the record is accepted
    * or rejected, so peak buffering is ONE record (header + payload +
    * separator), not the file. Resync discards as it scans, keeping only
    * a magic-sized tail.
    */
  private final class ByteWindow(in: java.io.InputStream) {
    private var buf = new Array[Byte](64 * 1024)
    private var len = 0
    private var pos = 0
    private var eof = false

    /** Current buffer capacity — the walk's peak memory (test hook). */
    def capacity: Int = buf.length

    def available: Int = len - pos

    private def fill(): Boolean = {
      if (eof) return false
      if (pos > 0) { System.arraycopy(buf, pos, buf, 0, len - pos); len -= pos; pos = 0 }
      // overflow-safe growth: doubling past 1 GiB would wrap negative and
      // throw NegativeArraySizeException mid-task; clamp to the JVM's
      // max array size instead (defense in depth — the MaxRecordBytes /
      // MaxHeaderBytes caps keep the window far below this in practice)
      if (len == buf.length) {
        if (buf.length >= Int.MaxValue - 8) return false // cannot grow further
        val grown =
          if (buf.length > (Int.MaxValue - 8) / 2) Int.MaxValue - 8
          else buf.length * 2
        buf = java.util.Arrays.copyOf(buf, grown)
      }
      val n = in.read(buf, len, buf.length - len)
      if (n < 0) { eof = true; false } else { len += n; true }
    }

    /** Grow until at least n bytes are windowed (or EOF); true if n are. */
    def ensure(n: Int): Boolean = {
      while (available < n && fill()) ()
      available >= n
    }

    /** True when the next bytes (at relative offset `at`) equal `p`. */
    def matchesAt(at: Int, p: Array[Byte]): Boolean =
      ensure(at + p.length) && {
        var j = 0
        while (j < p.length && buf(pos + at + j) == p(j)) j += 1
        j == p.length
      }

    /** Relative offset of `needle` at/after `from`, growing the window up
      * to `cap` bytes; -1 = EOF before a match, -2 = cap exceeded.
      */
    def indexOf(needle: Array[Byte], from: Int, cap: Int): Int = {
      var i = from
      while (true) {
        while (i + needle.length > available) {
          if (i > cap) return -2
          if (!fill()) return -1
        }
        if (i > cap) return -2
        var j = 0
        while (j < needle.length && buf(pos + i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i += 1
      }
      -1 // unreachable
    }

    def slice(from: Int, until: Int): String =
      new String(buf, pos + from, until - from, UTF_8)

    def consume(n: Int): Unit = { pos += math.min(n, available) }

    /** Discard-as-you-scan search for `p` starting at relative `from`:
      * positions the window ON the match (true) or exhausts the stream
      * (false). Keeps at most |p|-1 tail bytes while scanning, so resync
      * over an arbitrarily long corrupt region is O(|p|) memory.
      */
    def skipToMatch(p: Array[Byte], from: Int): Boolean = {
      consume(from)
      while (true) {
        val i = {
          var k = 0; var found = -1
          while (found < 0 && k + p.length <= available) {
            var j = 0
            while (j < p.length && buf(pos + k + j) == p(j)) j += 1
            if (j == p.length) found = k else k += 1
          }
          found
        }
        if (i >= 0) { consume(i); return true }
        consume(math.max(0, available - (p.length - 1)))
        if (!fill()) { consume(available); return false }
      }
      false // unreachable
    }
  }

  /** Test hook: peak window capacity (bytes) of the last walk COMPLETED
    * on this thread — the bounded-buffering spec asserts it tracks the
    * largest record, not the file.
    */
  private[graft] val lastPeakWindow = new ThreadLocal[Integer]

  /** The record walk: parse records at the window cursor, resync to the
    * next magic after any malformation. Corrupt records keep whatever
    * headers parsed (type/URI) with ok=false and NULL payload fields.
    * Emits lazily; closes `in` when the stream is exhausted.
    */
  private[graft] def parseRecordRows(in: java.io.InputStream): Iterator[(String, String, java.lang.Integer, Boolean, String)] =
    parseRecords(in).map(r => (r.warcType, r.url, r.status, r.ok, r.html))

  private def parseRecords(in: java.io.InputStream): Iterator[Rec] = {
    val sep = "\r\n\r\n".getBytes(UTF_8)
    val crlf = "\r\n".getBytes(UTF_8)
    val w = new ByteWindow(in)
    new Iterator[Rec] {
      private var nextRec: Rec = _
      private var done = false
      private var stopAfter = false // original walk's going=false states

      private def close(): Unit = {
        done = true
        lastPeakWindow.set(w.capacity)
        try in.close() catch { case _: Exception => () }
      }

      private def advance(): Unit = {
        nextRec = null
        if (done) return
        if (stopAfter || !w.ensure(1)) { close(); return }
        if (!w.matchesAt(0, Magic)) {
          nextRec = Rec(null, null, null, ok = false, null)
          if (!w.skipToMatch(Magic, 1)) stopAfter = true
          return
        }
        val headEnd = w.indexOf(sep, 0, MaxHeaderBytes)
        if (headEnd == -1) { // EOF before the header separator: one guard row, stop
          nextRec = Rec(null, null, null, ok = false, null)
          stopAfter = true
          return
        }
        if (headEnd == -2) { // unbounded header block: guard row + resync
          nextRec = Rec(null, null, null, ok = false, null)
          if (!w.skipToMatch(Magic, 1)) stopAfter = true
          return
        }
        val headers = w.slice(0, headEnd)
          .split("\r\n").drop(1) // drop the version line
          .flatMap { l =>
            val c = l.indexOf(':')
            if (c <= 0) None
            else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
          }.toMap
        val wt = headers.get("warc-type").orNull
        val uri = headers.get("warc-target-uri").orNull
        val lenOpt = headers.get("content-length").flatMap(_.toLongOption)
        val payloadStart = headEnd + sep.length
        // a declared length over the record cap is rejected BEFORE any
        // payload byte is buffered — same guard-row + resync outcome as
        // an overrunning length, but the window never grows toward it
        // (with the cap, payloadStart + len stays far inside Int range:
        // MaxHeaderBytes + MaxRecordBytes + separators < 2^29)
        val fits = lenOpt.exists(l => l >= 0 && l <= MaxRecordBytes)
        val bodyInWindow = fits && w.ensure(payloadStart + lenOpt.get.toInt)
        // the declared length must land ON the record separator (or
        // exactly at EOF): an in-bounds FORGED length lands mid-next-
        // record instead — without this check it would silently absorb
        // foreign bytes into the payload
        val atEofExactly = bodyInWindow &&
          !w.ensure(payloadStart + lenOpt.get.toInt + 1)
        val sepFollows = bodyInWindow && !atEofExactly &&
          w.matchesAt(payloadStart + lenOpt.get.toInt, sep)
        if (bodyInWindow && (atEofExactly || sepFollows)) {
          val len = lenOpt.get.toInt
          val pEnd = payloadStart + len
          val html =
            if (wt == "response") {
              val bodyAt = w.indexOf(sep, payloadStart, pEnd) match {
                case b if b >= 0 && b + sep.length <= pEnd => b + sep.length
                case _ => pEnd // headerless/degenerate HTTP: empty body
              }
              w.slice(bodyAt, pEnd)
            } else null
          val status =
            if (wt == "response") {
              val lineEnd = w.indexOf(crlf, payloadStart, pEnd) match {
                case e if e >= 0 => e
                case _ => payloadStart
              }
              val toks = w.slice(payloadStart, lineEnd).split(" ")
              if (toks.length >= 2) toks(1).toIntOption.map(Int.box).orNull else null
            } else null
          nextRec = Rec(wt, uri, status.asInstanceOf[java.lang.Integer], ok = true, html)
          if (sepFollows) w.consume(pEnd + sep.length)
          else { w.consume(pEnd); stopAfter = true } // EOF landed exactly at payload end
        } else {
          // forged/overrunning length or unparseable header: the guard
          // row, then resync past this record's magic
          nextRec = Rec(wt, uri, null, ok = false, null)
          if (!w.skipToMatch(Magic, 1)) stopAfter = true
        }
      }

      override def hasNext: Boolean = {
        if (nextRec == null && !done) { advance(); if (nextRec == null) close() }
        nextRec != null
      }
      override def next(): Rec = {
        if (!hasNext) throw new NoSuchElementException("exhausted WARC walk")
        val r = nextRec; nextRec = null; r
      }
    }
  }
}
