package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: media payloads
  * as opaque `binary` columns with a typed metadata struct, plus the
  * decode / feature-extract plumbing shaped the way a real pipeline runs it
  * (per-partition batch processing over binary columns).
  *
  * IMAGE decode is REAL: `javax.imageio` (pure JVM, no new dependency)
  * decodes PNG/BMP/GIF payloads to pixels — [[imageFeatures]],
  * [[resizeNearest]] and the q41/q42 gate rows compute on actual pixel
  * values, oracle-pinned via deterministic synthetic images whose pixel
  * formula the DuckDB side replays in closed form. Audio/video stay
  * raw-layout contracts (PCM16 / frame-major rawvideo — real layouts, no
  * codec needed).
  */
object Multimodal {

  /** Metadata schema carried next to every media payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = false)))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", mediaMetaSchema, nullable = false)))

  /** Build a media table from any (id, binary) source: attaches metadata
    * derived from the payload. Pure column ops.
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String, format: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        lit(format).as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        length(col(payloadCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Audio metadata: sample rate instead of image dimensions. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Audio table from any (id, binary) source: payload treated as 16-bit
    * mono PCM at `sampleRate` (the fixture has no real codecs; the framing
    * arithmetic below is the real part).
    */
  def asAudioTable(df: DataFrame, idCol: String, payloadCol: String,
      sampleRate: Int): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        lit("pcm16").as("format"),
        lit(sampleRate).as("sample_rate"),
        length(col(payloadCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Parsed WAV/RIFF header struct (sample_rate, channels, bits,
    * data_off, data_len) — NULL for payloads that are not well-formed
    * integer-PCM WAV. Real byte parsing ([[graft.expressions.WavHeader]]
    * kernel, codegen), the audio analog of the javax.imageio decode.
    */
  def wavHeader(payload: Column): Column =
    toCol(graft.expressions.WavHeader(toExpr(payload.cast("binary"))))

  /** Audio table from REAL WAV container payloads: parse the RIFF header,
    * slice the `data` chunk, and carry the PARSED sample rate in the meta
    * struct — so [[frameSlices]] runs on what the container says, not on
    * caller-supplied metadata ([[asAudioTable]] remains the raw-PCM
    * fallback for headerless buffers). Undecodable payloads keep their
    * row with ok = false and NULL payload/meta — the caller decides
    * quarantine-vs-drop, never a crash (the decodeGray contract).
    */
  def asWavTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val h = wavHeader(col(payloadCol))
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("__raw"), h.as("__h"))
      .select(
        col("media_id"),
        col("__h").isNotNull.as("ok"),
        when(col("__h").isNotNull,
          col("__raw").substr(col("__h.data_off") + 1,
            col("__h.data_len").cast("int"))).as("payload"),
        when(col("__h").isNotNull, struct(
          lit("pcm").as("format"),
          col("__h.sample_rate").as("sample_rate"),
          // the TRUE stream rate: rate × channels × bits/8. frameSlices
          // frames on this when present, so stereo / 8- or 24-bit WAVs
          // frame correctly instead of inheriting the 16-bit-mono
          // assumption (which would halve a stereo frame's duration and
          // split L/R sample pairs across frame boundaries)
          (col("__h.sample_rate") * col("__h.channels") * col("__h.bits") / 8)
            .cast("int").as("byte_rate"),
          // one complete cross-channel sample group: frame/hop widths
          // must round DOWN to a multiple of this or every frame ends
          // mid-sample on rates that don't divide 1000 evenly
          (col("__h.channels") * col("__h.bits") / 8).cast("int").as("block_align"),
          col("__h.data_len").as("n_bytes"))).as("meta"),
        col("__h.channels").as("channels"),
        col("__h.bits").as("bits"))
  }

  /** Driver-side canonical 44-byte PCM WAV header (test/fixture builder —
    * the exact layout [[wavHeader]] parses back).
    */
  def wavHeaderBytes(rate: Int, channels: Int, bits: Int, dataLen: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * bits / 8)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    bb.array()
  }

  /** Driver-side complete WAV (header + data). */
  def wavBytes(rate: Int, channels: Int, bits: Int, data: Array[Byte]): Array[Byte] =
    wavHeaderBytes(rate, channels, bits, data.length) ++ data

  /** Frame sampling over PCM audio: fixed `frameMs` windows advancing by
    * `hopMs` (hop < frame ⇒ overlap, the STFT shape). Pure codegen
    * arithmetic + binary `substr` — the time-axis sibling of
    * [[Chunking.chunkByTokens]]; clips shorter than one frame emit
    * nothing (standard frontend behavior). Output: media_id, frame_id,
    * start_ms, frame (binary).
    */
  def frameSlices(audio: DataFrame, frameMs: Int, hopMs: Int): DataFrame = {
    require(frameMs > 0 && hopMs > 0, s"frameMs/hopMs must be positive: $frameMs/$hopMs")
    // bytes per second: the meta's explicit byte_rate when the source
    // carries one ([[asWavTable]] — correct for any channels/bits), else
    // the legacy 16-bit-mono contract sample_rate × 2 ([[asAudioTable]])
    val metaFields = audio.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    val byteRate =
      if (metaFields("byte_rate")) col("meta.byte_rate")
      else col("meta.sample_rate") * 2
    val blockAlign =
      if (metaFields("block_align")) col("meta.block_align") else lit(2)
    // frame/hop byte widths round DOWN to a whole number of sample
    // groups (block align), so a rate that doesn't divide 1000 evenly
    // (44100 stereo: 4 ms = 705.6 bytes) can never split a cross-channel
    // sample pair across a frame boundary; the hop is floored to at
    // least one block so a tiny hopMs can't produce a zero-step sequence
    def aligned(c: org.apache.spark.sql.Column) =
      (c - pmod(c, blockAlign)).cast("int")
    val frameBytes = aligned((byteRate * frameMs / 1000).cast("int"))
    val hopBytes = greatest(blockAlign.cast("int"),
      aligned((byteRate * hopMs / 1000).cast("int")))
    val nb = col("meta.n_bytes").cast("int")
    val starts = when(nb >= frameBytes,
      sequence(lit(0), nb - frameBytes, hopBytes)).otherwise(array())
    audio
      .select(col("media_id"), col("payload"), frameBytes.as("__fb"),
        byteRate.as("__br"),
        posexplode(starts).as(Seq("frame_id", "__start")))
      .select(
        col("media_id"),
        col("frame_id").cast("long").as("frame_id"),
        // start bytes → ms, floored (exact whenever hop·1000 divides the
        // byte rate, e.g. the PCM16 fixtures; a 44.1 kHz stream floors)
        (col("__start") * lit(1000L) / col("__br")).cast("long").as("start_ms"),
        col("payload").substr(col("__start") + 1, col("__fb")).as("frame"))
  }

  /** s16le sample values of a PCM payload as array<int> — the
    * cell-exact oracle/debug surface of the PCM chain.
    */
  def pcmSamples(payload: Column): Column =
    toCol(graft.expressions.PcmSamples(toExpr(payload.cast("binary"))))

  /** Interleaved N-channel s16le PCM → mono by per-group channel average
    * (floor division). `channels` is a COLUMN so the parsed WAV header
    * drives it ([[asWavTable]]'s channels field) — every ASR-prep
    * pipeline mixes down before framing. Oracle replay:
    * FLOOR((s_L + s_R + …)/n).
    */
  def monoMixPcm(payload: Column, channels: Column): Column =
    toCol(graft.expressions.PcmMonoMix(
      toExpr(payload.cast("binary")), toExpr(channels.cast("int"))))

  /** Integer sample-rate conversion of mono s16le PCM to `dstRate`:
    * nearest (`linear = false`) indexes input sample ⌊n·src/dst⌋; linear
    * interpolates in exact long arithmetic with the final sample
    * clamped. `srcRate` is a COLUMN (the parsed header's rate), so mixed
    * input rates in one table all land on the same target — the
    * normalization step before [[frameSlices]].
    */
  def resamplePcm(payload: Column, srcRate: Column, dstRate: Int,
      linear: Boolean = true): Column =
    toCol(graft.expressions.PcmResample(
      toExpr(payload.cast("binary")), toExpr(srcRate.cast("int")), dstRate, linear))

  /** Video table from any (id, binary) source: payload treated as raw
    * frame-major video (`frameBytes` per frame at `fps` — the rawvideo
    * layout) with a typed meta struct. Same honest-stub stance as
    * [[asAudioTable]]: no codecs in the sandbox, so the payload stands in
    * for decoded frames; the indexing/sampling arithmetic is the real
    * part a cluster pipeline needs.
    */
  def asVideoTable(df: DataFrame, idCol: String, payloadCol: String,
      fps: Int, frameBytes: Int): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        lit("rawvideo").as("format"),
        lit(fps).as("fps"),
        lit(frameBytes).as("frame_bytes"),
        length(col(payloadCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Uniform temporal frame sampling — the "sample k frames per clip"
    * prep every video training pipeline runs. Complete frames n =
    * ⌊bytes / frame_bytes⌋; sampled indices idx_j = ⌊j·n/k⌋ (j < min(k,
    * n)) — evenly spaced, always including frame 0, never past the end;
    * clips shorter than one frame emit nothing. Pure codegen arithmetic
    * + binary substr, shuffle-free. Output: media_id, sample_id,
    * frame_idx, t_ms, frame (binary).
    */
  def sampleFrames(video: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val fb = col("meta.frame_bytes")
    // exact integer division throughout (floorDivI is IntegralDivide for
    // the non-negative operands here) — a double route would wobble past
    // 2^53 on long clips
    val n = graft.ops.Arith.floorDivI(col("meta.n_bytes"), fb)
    val m = least(lit(k.toLong), n)
    val idxs = when(n > 0, transform(sequence(lit(0L), m - 1),
      j => graft.ops.Arith.floorDivI(j * n, m))).otherwise(array())
    video
      .select(col("media_id"), col("payload"), fb.as("__fb"),
        col("meta.fps").as("__fps"),
        posexplode(idxs).as(Seq("sample_id", "frame_idx")))
      .select(
        col("media_id"),
        col("sample_id").cast("long").as("sample_id"),
        col("frame_idx"),
        // frame_idx/fps seconds → ms, exact integer arithmetic
        graft.ops.Arith.floorDivI(col("frame_idx") * 1000L, col("__fps")).as("t_ms"),
        col("payload").substr((col("frame_idx") * col("__fb")).cast("int") + 1,
          col("__fb").cast("int")).as("frame"))
  }

  /** Unsigned byte sum of a binary payload (ByteSum kernel) — the
    * checksum/mass statistic for raw media planes.
    */
  def byteSum(c: Column): Column =
    toCol(graft.expressions.ByteSum(toExpr(c.cast("binary"))))

  /** REAL image decode (javax.imageio — PNG/BMP/GIF, pure JVM): returns
    * (width, height, row-major gray pixels) where gray = (r+g+b)/3 per
    * pixel (exact for the grayscale images the pipeline round-trips:
    * r=g=b ⇒ gray = the channel value). None for undecodable payloads —
    * the caller decides quarantine-vs-null, never an executor crash.
    */
  // ImageIO's default stream cache is a TEMP FILE per encode/decode — at
  // one image per row that is disk I/O plus tmp-dir contention across all
  // executor threads (measured: the q41/q42 decade factor dropped from
  // ~19-23x to near-linear once in-memory streams took over). Object init
  // runs once per executor JVM, before the first codec call.
  javax.imageio.ImageIO.setUseCache(false)

  def decodeGray(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (payload == null || payload.isEmpty) return None
    // NonFatal, not just IOException: ImageIO plugins throw runtime
    // exceptions (IllegalArgument/IndexOutOfBounds/CMMException) on
    // corrupt payloads, and the contract is "undecodable -> None", never
    // an executor crash
    val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      // bulk getRGB: one color-model conversion call for the whole plane
      // (the per-pixel accessor re-enters the color model per call)
      val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
      val px = new Array[Int](w * h)
      var i = 0
      while (i < px.length) {
        val rgb = rgbs(i)
        px(i) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        i += 1
      }
      Some((w, h, px))
    }
  }

  /** Encode row-major gray pixels as a real PNG (lossless — decode gives
    * the same values back, which is what makes the pixel path
    * oracle-pinnable).
    */
  def encodeGrayPng(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    require(px.length == w * h, s"pixel count ${px.length} != $w x $h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgbs = new Array[Int](px.length)
    var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      rgbs(i) = (v << 16) | (v << 8) | v
      i += 1
    }
    img.setRGB(0, 0, w, h, rgbs, 0, w) // bulk: one color-model pass
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic synthetic gray value — the gate fixture's pixel
    * formula, replayed in closed form by the DuckDB oracle: v(id, x, y) =
    * (id·31 + x·7 + y·13) mod 256.
    */
  def synthGray(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** Encode row-major gray pixels as a real JPEG at the given quality.
    * LOSSY — unlike [[encodeGrayPng]] the decode is approximate and
    * library-dependent, so JPEG evidence is guard-BOUNDED (dims exact,
    * mean/min/max within tolerance) rather than oracle-exact. The lane
    * matters because real crawl image corpora are overwhelmingly JPEG;
    * [[decodeGray]] sniffs the container, so every downstream pixel op
    * (features, resize, tiles, dHash) consumes JPEG payloads unchanged.
    */
  def encodeGrayJpeg(w: Int, h: Int, px: Array[Int],
      quality: Float = 0.9f): Array[Byte] = {
    require(px.length == w * h, s"pixel count ${px.length} != $w x $h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgbs = new Array[Int](px.length)
    var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      rgbs(i) = (v << 16) | (v << 8) | v
      i += 1
    }
    img.setRGB(0, 0, w, h, rgbs, 0, w)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally { ios.close(); writer.dispose() }
    out.toByteArray
  }

  /** Smooth-gradient fixture pixel for the JPEG lane: a DC-dominated
    * plane v(id, x, y) = (id mod 64) + 4x + 3y (< 256 at fixture dims),
    * chosen BECAUSE it is what lossy coding preserves well — the [[
    * synthGray]] mod-256 sawtooth would put fixture energy exactly where
    * JPEG quantizes hardest and turn tolerance bounds into noise. Mean,
    * min and max have closed forms the guard gate replays.
    */
  def jpegSynthGray(id: Long, x: Int, y: Int): Int =
    ((id % 64) + 4L * x + 3L * y).toInt

  /** Media table of REAL synthetic JPEGs — the [[syntheticImageTable]]
    * twin for the lossy lane: dimensions (8 + id mod 5) × (6 + id mod 4),
    * pixels from [[jpegSynthGray]], meta format `image/jpeg`.
    */
  def syntheticJpegTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (8 + (id % 5)).toInt
        val h = (6 + (id % 4)).toInt
        val px = Array.tabulate(w * h)(i => jpegSynthGray(id, i % w, i / w))
        val jpg = encodeGrayJpeg(w, h, px)
        Row(id, jpg, Row("image/jpeg", w, h, jpg.length.toLong))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Media table of REAL synthetic PNGs, one per input id: dimensions
    * (8 + id mod 5) × (6 + id mod 4), pixels from [[synthGray]] — encoded
    * per-partition (the codec-batch shape), decoded downstream by
    * [[imageFeatures]]/[[resizeNearest]] through the actual ImageIO path.
    */
  def syntheticImageTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (8 + (id % 5)).toInt
        val h = (6 + (id % 4)).toInt
        val px = Array.tabulate(w * h)(i => synthGray(id, i % w, i / w))
        val png = encodeGrayPng(w, h, px)
        Row(id, png, Row("image/png", w, h, png.length.toLong))
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_px", LongType, nullable = true),
    StructField("mean_gray", DoubleType, nullable = true),
    StructField("min_gray", IntegerType, nullable = true),
    StructField("max_gray", IntegerType, nullable = true),
    StructField("n_bright", LongType, nullable = true)))

  /** REAL pixel statistics per image: decode via ImageIO in a
    * per-partition batch loop, then width/height/pixel-count, exact mean
    * gray (integer sum ÷ count in double), min/max, and the count of
    * bright (> 127) pixels. Undecodable payloads keep their row with NULL
    * stats (auditable, never dropped silently).
    */
  def imageFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeGray(r.getAs[Array[Byte]](1)) match {
          case Some((w, h, px)) =>
            var sum = 0L; var mn = 255; var mx = 0; var bright = 0L
            var i = 0
            while (i < px.length) {
              val v = px(i)
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              if (v > 127) bright += 1
              i += 1
            }
            val n = px.length.toLong
            Row(id, w, h, n, sum.toDouble / n, mn, mx, bright)
          case None => Row(id, null, null, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  /** REAL nearest-neighbor resize: decode, resample pixel (x, y) from
    * source (x·w0 ÷ w, y·h0 ÷ h) — integer floor, the deterministic
    * resampling every engine can replay bit-for-bit (area/bilinear
    * filters vary by library) — and emit the RAW gray plane as the
    * payload (format `gray8`, n_bytes = w·h), the decoded-buffer shape a
    * patch/feature stage consumes directly. Undecodable → empty payload.
    */
  def resizeNearest(spark: SparkSession, media: DataFrame, w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"target dims must be positive: $w x $h")
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeGray(r.getAs[Array[Byte]](1)) match {
          case Some((w0, h0, px)) =>
            val out = new Array[Byte](w * h)
            var y = 0
            var i = 0
            while (y < h) {
              val sy = y * h0 / h
              var x = 0
              while (x < w) {
                out(i) = px(sy * w0 + x * w0 / w).toByte
                i += 1
                x += 1
              }
              y += 1
            }
            Row(id, out, Row("gray8", w, h, out.length.toLong))
          case None =>
            Row(id, Array.emptyByteArray, Row("gray8", w, h, 0L))
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private val tileSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("tile_x", IntegerType, nullable = false),
    StructField("tile_y", IntegerType, nullable = false),
    StructField("tw", IntegerType, nullable = false),
    StructField("th", IntegerType, nullable = false),
    StructField("mean_gray", DoubleType, nullable = false),
    StructField("min_gray", IntegerType, nullable = false),
    StructField("max_gray", IntegerType, nullable = false)))

  /** ViT-style NON-OVERLAPPING 2-D tile grid over REAL decoded pixels:
    * each image splits into ⌈w/tileW⌉ × ⌈h/tileH⌉ tiles (ragged edge
    * tiles keep their clamped true dimensions — no padding, so the tile
    * stats are statistics of actual pixels only), with per-tile mean /
    * min / max gray. The 2-D sibling of [[samplePatches]]' 1-D byte
    * slices — what a patch-embedding front end consumes. One decode per
    * image in the per-partition batch loop, one output row per tile
    * (flat-map shape, shuffle-free). Undecodable payloads emit no tiles
    * (quarantine-by-absence; [[imageFeatures]] is the keep-every-row
    * audit view).
    */
  def imageTiles(spark: SparkSession, media: DataFrame,
      tileW: Int, tileH: Int): DataFrame = {
    require(tileW > 0 && tileH > 0, s"tile dims must be positive: $tileW x $tileH")
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        decodeGray(r.getAs[Array[Byte]](1)) match {
          case None => Iterator.empty
          case Some((w, h, px)) =>
            for {
              ty <- Iterator.range(0, (h + tileH - 1) / tileH)
              tx <- Iterator.range(0, (w + tileW - 1) / tileW)
            } yield {
              val x0 = tx * tileW; val y0 = ty * tileH
              val tw = math.min(tileW, w - x0)
              val th = math.min(tileH, h - y0)
              var sum = 0L; var mn = 255; var mx = 0
              var dy = 0
              while (dy < th) {
                var dx = 0
                val base = (y0 + dy) * w + x0
                while (dx < tw) {
                  val v = px(base + dx)
                  sum += v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  dx += 1
                }
                dy += 1
              }
              Row(id, tx, ty, tw, th, sum.toDouble / (tw * th), mn, mx)
            }
        }
      }
    }
    spark.createDataFrame(rdd, tileSchema)
  }

  // ---------------------------------------------------------------------
  // Perceptual image hashing (dHash) + Hamming near-dup pairs
  // ---------------------------------------------------------------------

  private val dHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("sig", LongType, nullable = true)))

  /** 64-bit difference hash (dHash) over REAL decoded pixels: downscale to
    * a 9×8 grid of block means — cell (tx, ty) averages the source block
    * [⌊tx·w/9⌋, ⌊(tx+1)·w/9⌋) × [⌊ty·h/8⌋, ⌊(ty+1)·h/8⌋) with integer
    * floor division (never a float resampling filter, so any engine
    * replays the grid bit-for-bit; degenerate blocks on tiny images clamp
    * to one pixel) — then bit ty·8+tx = cell(tx,ty) > cell(tx+1,ty).
    * Uniform brightness/contrast shifts preserve every gradient sign,
    * which is what makes dHash the standard re-encode/brightness-robust
    * image dedup key where the exact byte hash breaks on any metadata
    * touch. One decode per image in the per-partition batch loop (the
    * justified codec family). Undecodable → ok = false, NULL sig.
    */
  def dHashSigs(spark: SparkSession, media: DataFrame): DataFrame = {
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        decodeGray(r.getAs[Array[Byte]](1)) match {
          case None => Row(id, false, null)
          case Some((w, h, px)) =>
            val cells = Array.ofDim[Long](8, 9) // [ty][tx]
            var ty = 0
            while (ty < 8) {
              val yLo = ty * h / 8
              val yHiRaw = (ty + 1) * h / 8
              val yHi = if (yHiRaw <= yLo) yLo + 1 else yHiRaw
              var tx = 0
              while (tx < 9) {
                val xLo = tx * w / 9
                val xHiRaw = (tx + 1) * w / 9
                val xHi = if (xHiRaw <= xLo) xLo + 1 else xHiRaw
                var sum = 0L
                var y = yLo
                while (y < yHi) {
                  var x = xLo
                  val base = y * w
                  while (x < xHi) { sum += px(base + x); x += 1 }
                  y += 1
                }
                cells(ty)(tx) = sum / ((yHi - yLo).toLong * (xHi - xLo))
                tx += 1
              }
              ty += 1
            }
            var sig = 0L
            ty = 0
            while (ty < 8) {
              var tx = 0
              while (tx < 8) {
                if (cells(ty)(tx) > cells(ty)(tx + 1)) sig |= 1L << (ty * 8 + tx)
                tx += 1
              }
              ty += 1
            }
            Row(id, true, sig)
        }
      }
    }
    spark.createDataFrame(rdd, dHashSchema)
  }

  /** Near-duplicate IMAGE pairs at Hamming distance ≤ maxHamming over
    * [[dHashSigs]] signatures, via the pigeonhole chunk-bucket join
    * ([[Dedup.simHashPairsFromSigs]] — candidate recall exactly 1, never
    * an all-pairs stage; images shuffle as (id, 64-bit sig) rows only,
    * payloads never leave their scan partition). Output: id1, id2,
    * hamming, sig1, sig2 — the signatures ride along so a gate row pins
    * the hash values themselves, not just their xor popcount.
    */
  def dHashPairs(spark: SparkSession, media: DataFrame, maxHamming: Int): DataFrame =
    Dedup.simHashPairsFromSigs(
      dHashSigs(spark, media).filter(col("ok"))
        .select(col("media_id").as("id"), col("sig")),
      maxHamming, keepSigs = true)

  /** dHash gate fixture pixel formula (closed-form, oracle-replayable):
    * base v = 30 + (b·31 + x·7 + y·13 + x·y·(b mod 7 + 1)) mod 180 where
    * b = id mod 1e6 — the x·y texture term decorrelates different ids'
    * gradient fields (without it the sawtooth makes every image a phase
    * shift of every other), and the [30, 209] range means the planted +3
    * brightness shift never clamps at 255. id ∈ [1e6, 2e6): uniform +3
    * brightness variant — dHash-invariant by construction, the planted
    * hamming-0 near-dup a byte-exact hash misses. id ≥ 2e6: sparse noise
    * variant (+40 where (x·5 + y·3) mod 37 = 0) — a few flipped gradient
    * bits, the small-hamming near-dup.
    */
  def dhashSynthPixel(id: Long, x: Int, y: Int): Int = {
    val b = id % 1000000L
    val v = (30L + (b * 31 + x * 7 + y * 13 + x.toLong * y * (b % 7 + 1)) % 180).toInt
    if (id >= 2000000L) v + (if ((x * 5 + y * 3) % 37 == 0) 40 else 0)
    else if (id >= 1000000L) v + 3
    else v
  }

  /** Synthetic PNG table for the dHash gate row: one base image per id
    * (w = 20 + id mod 6, h = 16 + id mod 5 — always a true downscale to
    * the 9×8 grid), plus a planted brightness variant (id + 1e6) for ids
    * ≡ 0 (mod 4) and a sparse-noise variant (id + 2e6) for ids ≡ 1
    * (mod 4). Real PNG encode here, real ImageIO decode in [[dHashSigs]]
    * — the container round trip is part of what the gate row pins.
    */
  def dhashImageTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val base = r.getLong(0)
        val variantIds =
          (if (base % 4 == 0) Seq(base + 1000000L) else Seq.empty) ++
            (if (base % 4 == 1) Seq(base + 2000000L) else Seq.empty)
        (base +: variantIds).iterator.map { id =>
          val w = (20 + base % 6).toInt
          val h = (16 + base % 5).toInt
          val px = Array.tabulate(w * h)(i => dhashSynthPixel(id, i % w, i / w))
          val png = encodeGrayPng(w, h, px)
          Row(id, png, Row("image/png", w, h, png.length.toLong))
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** [[dhashImageTable]]'s LOSSY twin: the identical pixel planes
    * container-encoded as REAL JPEGs (quality 0.9) instead of PNG — the
    * composition fixture proving the perceptual-dedup lane consumes the
    * dominant crawl format unchanged. dHash is exactly the hash that
    * should survive the re-encode: quantization noise perturbs block
    * means by a few gray levels while the fixture's gradient SIGNS
    * (±7/px in x against the DC-dominated plane) stay put, so planted
    * variants still pair at small hamming and distinct bases stay far.
    * The exact bounds are pinned in LlmSpec; the q214 gate rides them.
    */
  def dhashJpegTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val base = r.getLong(0)
        val variantIds =
          (if (base % 4 == 0) Seq(base + 1000000L) else Seq.empty) ++
            (if (base % 4 == 1) Seq(base + 2000000L) else Seq.empty)
        (base +: variantIds).iterator.map { id =>
          val w = (20 + base % 6).toInt
          val h = (16 + base % 5).toInt
          val px = Array.tabulate(w * h)(i => dhashSynthPixel(id, i % w, i / w))
          val jpg = encodeGrayJpeg(w, h, px)
          Row(id, jpg, Row("image/jpeg", w, h, jpg.length.toLong))
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Frame/patch sampling stub: emits `n` deterministic byte-slices per
    * payload (what frame-sampling does to video), as its own rows —
    * explode keeps it fully distributed.
    */
  def samplePatches(media: DataFrame, n: Int, patchBytes: Int): DataFrame =
    media.select(col("media_id"), col("meta"),
      posexplode(transform(sequence(lit(0), lit(n - 1)),
        i => substring(col("payload"), (i * patchBytes + 1).cast("int"), lit(patchBytes)))))
      .withColumnRenamed("pos", "patch_idx")
      .withColumnRenamed("col", "patch")
      .filter(length(col("patch")) > 0)
}
