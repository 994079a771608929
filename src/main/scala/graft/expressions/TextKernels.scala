package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text/signature kernels. The declarative higher-order-function
  * formulations (transform/aggregate lambdas) re-evaluate captured
  * subexpressions per array element — measured 30µs/row on the shingle
  * pipeline. These expressions do the whole computation in one pass per
  * row, whole-stage-codegen'd, which is the shape minarrow's fused string
  * kernels take (src/kernels/string.rs macros).
  */

/** Distinct n-word shingles of the lowercased `[a-z]+` token stream —
  * equivalent to regexp `[a-z]+` tokenization of `lower(text)` followed by
  * windowed joins and array_distinct, in one byte-level pass.
  */
case class ShingleTokens(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, "shingle width >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = s"shingle_tokens$n"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.shingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.shingles($v, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleTokens = copy(child = c)
}

/** POSITIONAL k-gram fingerprints of the lowercased `[a-z]+` token stream:
  * element i = FNV-1a 64 hash of tokens i..i+n-1 joined by one space —
  * every alignment, multiplicity preserved (unlike [[ShingleTokens]],
  * which is the DISTINCT shingle set). Fewer than n tokens → EMPTY array
  * (a document that cannot hold an n-token span emits no grams). The
  * corpus-scope exact-substring machinery (suffix-array-family dedup,
  * reference anchor `src/kernels/string.rs:1388` count_match /
  * `string.rs:1322` find lifted to cross-document scope) hashes in-kernel
  * so downstream tables carry 8-byte fingerprints, never gram strings —
  * the 100 TB shuffle-width choice.
  */
case class GramHashes(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, "gram width >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"gram_hashes$n"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.gramHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.gramHashes($v, $n)")
  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
}

/** The case-folded ASCII `[A-Za-z]+` token stream WITH multiplicity — the
  * library's ONE tokenization convention (tokenSpans + ASCII lowering,
  * shared with ShingleTokens/StopwordCount/TextStats). Replaces the
  * `regexp_extract_all(lower(c), "[a-z]+")` formulation, whose unicode
  * lower() could mint ASCII letters from exotic code points (U+212A
  * KELVIN SIGN → 'k') and so diverge from both the kernels and the RE2
  * oracles.
  */
case class AsciiTokens(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ascii_tokens"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.asciiTokens(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.asciiTokens($v)")
  override protected def withNewChildInternal(c: Expression): AsciiTokens = copy(child = c)
}

/** Uppercase-HEX byte n-grams of the UTF-8 byte stream, stride 1,
  * multiplicity preserved — the fastText-style feature shape that gives
  * every script (CJK, Cyrillic, Arabic, emoji) features where the
  * `[A-Za-z]+` word path sees nothing. Emitting each gram as its hex
  * STRING (not raw bytes) keeps the downstream md5 feature bucket
  * engine-portable: DuckDB replays the exact token stream as
  * `substr(hex(encode(t)), 2*i-1, 2*n)` over i = 1 .. bytes−n+1 (the
  * q172 hex-recovery contract). Fewer than n bytes → EMPTY array (a
  * document that cannot hold an n-byte window emits no features).
  * Reference anchor: byte-offset string layout,
  * `src/structs/variants/string.rs:106-115`.
  */
case class ByteNgrams(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, "byte n-gram width >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = s"byte_ngrams$n"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.byteNgrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.byteNgrams($v, $n)")
  override protected def withNewChildInternal(c: Expression): ByteNgrams = copy(child = c)
}

/** Byte-class profile of the UTF-8 stream in one pass — the script /
  * encoding-health signal of multilingual curation: counts of ASCII
  * letters, digits, whitespace, UTF-8 lead bytes by width (2/3/4), and
  * everything else (other ASCII + continuation + invalid). Lead-byte
  * widths separate scripts cheaply (CJK ⇒ 3-byte leads, Cyrillic/Arabic
  * ⇒ 2-byte), and a lead/continuation imbalance is the classic mojibake
  * tell. All counts exact longs — no float surface for an oracle to
  * drift on; DuckDB replays them as integer range filters over the
  * recovered byte list (the q188 hex contract).
  */
case class ByteClassStats(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ByteClassStats.schema
  override def prettyName: String = "byte_class_stats"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.byteClassStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.byteClassStats($v)")
  override protected def withNewChildInternal(c: Expression): ByteClassStats = copy(child = c)
}

object ByteClassStats {
  val schema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_letter", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_ws", LongType, nullable = false),
    StructField("n_lead2", LongType, nullable = false),
    StructField("n_lead3", LongType, nullable = false),
    StructField("n_lead4", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false)))
}

/** k-permutation MinHash signature of the document's n-shingle set, in one
  * pass: tokenize → shingle → FNV-1a hash → k universal-hash minima over
  * the 31-bit prime field. Permutation constants derive deterministically
  * from `seed`.
  */
case class MinHashSig(child: Expression, n: Int, k: Int, seed: Long)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minHashSig(v.asInstanceOf[UTF8String], n, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.TextKernels.minHashSig($v, $n, $k, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Signed-random-projection LSH signature of an array<double> vector:
  * bit p = sign of the projection onto a deterministic ±1 hyperplane
  * (splitmix64(seed, p, dim) parity).
  */
case class SrpSig(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression with Serializable {
  require(nBits >= 1 && nBits <= 64)
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sig"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.srpSig(v.asInstanceOf[ArrayData], nBits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.TextKernels.srpSig($v, $nBits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): SrpSig = copy(child = c)
}

object TextKernels {

  /** ASCII-letter tokens of the lowercased byte stream (multibyte and
    * non-letter bytes are separators — same outcome as regexp `[a-z]+`
    * over `lower(text)`).
    */
  private[expressions] def tokenSpans(b: Array[Byte]): java.util.ArrayList[(Int, Int)] = {
    val spans = new java.util.ArrayList[(Int, Int)]()
    var i = 0
    var start = -1
    while (i <= b.length) {
      val isLetter = i < b.length && {
        val c = b(i)
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      }
      if (isLetter) { if (start < 0) start = i }
      else if (start >= 0) { spans.add((start, i)); start = -1 }
      i += 1
    }
    spans
  }

  private[expressions] def lowerToken(b: Array[Byte], s: Int, e: Int): String = {
    val out = new Array[Char](e - s)
    var i = s
    while (i < e) {
      val c = b(i)
      out(i - s) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c.toChar
      i += 1
    }
    new String(out)
  }

  private val HexU = "0123456789ABCDEF".toCharArray

  /** Uppercase-hex byte n-grams, stride 1, multiplicity preserved;
    * fewer than n bytes → empty. One hex pass, then 2n-char slices.
    */
  def byteNgrams(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    if (b.length < n) return new GenericArrayData(Array.empty[Any])
    val hex = new Array[Char](2 * b.length)
    var i = 0
    while (i < b.length) {
      hex(2 * i) = HexU((b(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexU(b(i) & 0xf)
      i += 1
    }
    val out = new Array[Any](b.length - n + 1)
    var j = 0
    while (j + n <= b.length) {
      out(j) = UTF8String.fromString(new String(hex, 2 * j, 2 * n))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Exact byte-class counts (see [[graft.expressions.ByteClassStats]]). */
  def byteClassStats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    var letter = 0L; var digit = 0L; var ws = 0L
    var lead2 = 0L; var lead3 = 0L; var lead4 = 0L; var other = 0L
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      if ((v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z')) letter += 1
      else if (v >= '0' && v <= '9') digit += 1
      else if (v == ' ' || v == '\t' || v == '\n' || v == '\f' || v == '\r') ws += 1
      else if (v >= 0xc0 && v <= 0xdf) lead2 += 1
      else if (v >= 0xe0 && v <= 0xef) lead3 += 1
      else if (v >= 0xf0 && v <= 0xf7) lead4 += 1
      else other += 1 // other ASCII, continuation bytes, invalid leads
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](b.length.toLong, letter, digit, ws, lead2, lead3, lead4, other))
  }

  /** Lowercased ASCII letter-run tokens, multiplicity preserved. */
  def asciiTokens(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    val out = new Array[Any](spans.size())
    var i = 0
    while (i < spans.size()) {
      val (st, en) = spans.get(i)
      out(i) = UTF8String.fromString(lowerToken(b, st, en))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct n-shingles, order of first occurrence. For < n tokens, one
    * shingle of all tokens (matching the declarative fallback).
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    val toks = new Array[String](spans.size())
    var i = 0
    while (i < spans.size()) {
      val (st, en) = spans.get(i)
      toks(i) = lowerToken(b, st, en)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.length == 0) {
      // no tokens -> EMPTY shingle set. Emitting [""] would make every
      // letterless document an exact Jaccard-1 duplicate of every other.
    } else if (toks.length < n) {
      seen.add(toks.mkString(" "))
    } else {
      var j = 0
      while (j + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(j))
        var m = 1
        while (m < n) { sb.append(' ').append(toks(j + m)); m += 1 }
        seen.add(sb.toString)
        j += 1
      }
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = UTF8String.fromString(it.next()); idx += 1 }
    new GenericArrayData(out)
  }

  /** All-alignment n-gram FNV-1a 64 fingerprints (hash of the gram string
    * "tok_i tok_i+1 … tok_i+n-1"), identical to fnv1aStr of the joined
    * gram but computed without building the string. < n tokens → empty.
    */
  def gramHashes(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    val m = spans.size()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      val (st, en) = spans.get(i)
      toks(i) = lowerToken(b, st, en)
      i += 1
    }
    val out = new Array[Any](m - n + 1)
    var j = 0
    while (j + n <= m) {
      var h = 0xcbf29ce484222325L
      var q = 0
      while (q < n) {
        if (q > 0) { h ^= (' ' & 0xffffL); h *= 0x100000001b3L }
        val t = toks(j + q)
        var ci = 0
        while (ci < t.length) {
          h ^= (t.charAt(ci) & 0xffffL)
          h *= 0x100000001b3L
          ci += 1
        }
        q += 1
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  private def fnv1aStr(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= (s.charAt(i) & 0xffffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private final val P = 2147483647L // 2^31-1

  private val permCache = new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  private def perms(k: Int, seed: Long): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((k, seed), { key =>
      val rnd = new scala.util.Random(key._2)
      val a = Array.fill(key._1)(1L + rnd.nextInt((P - 1).toInt).toLong)
      val b = Array.fill(key._1)(rnd.nextInt(P.toInt).toLong)
      (a, b)
    })

  def minHashSig(s: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val sh = shingles(s, n)
    val (as, bs) = perms(k, seed)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.numElements()) {
      val x = Math.floorMod(fnv1aStr(sh.getUTF8String(i).toString), P)
      var j = 0
      while (j < k) {
        val h = (as(j) * x + bs(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Tokens with multiplicity that appear in `set` (lowercased [a-z]+). */
  def stopwordCount(s: UTF8String, set: java.util.HashSet[String]): Long = {
    val b = s.getBytes
    val spans = tokenSpans(b)
    var n = 0L
    var i = 0
    while (i < spans.size()) {
      val (st, en) = spans.get(i)
      if (set.contains(lowerToken(b, st, en))) n += 1
      i += 1
    }
    n
  }

  /** One byte pass computing the TextStats struct. Semantics pinned to
    * the regexp chain it replaces, EXCEPT that the whitespace class is
    * RE2's `\s` = [ \t\n\f\r] (the DuckDB oracle's class), not Java's
    * [ \t\n\x0B\f\r]: the gate replays every consumer in RE2, so a
    * \x0B-bearing doc must tokenize identically on both engines (same
    * alignment as simHashMd5Sigs / md5Fingerprint).
    *  - n_tok_ws: `size(split(trim(c), ws+))` with the blank guard —
    *    trim strips ' ' only; split keeps leading/trailing empties
    *    (limit −1), so the count is (ws runs inside the trimmed span)+1.
    *  - n_tok_bpe: `[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]` matches = letter
    *    runs + single digits + single non-alnum-non-ws code points
    *    (every non-ASCII code point lands in the last class).
    *  - stop_cnt / n_az_tok: hits and total of the `[a-z]+`-over-lower
    *    token stream (= case-folded ASCII letter runs, the tokenSpans
    *    convention).
    *  - punct_ratio: non-alnum-non-ws code points / total code points.
    *  - quality: the Gopher-style composite, identical double-op order
    *    to the Column formulation.
    */
  def textStats(s: UTF8String, stopSet: java.util.HashSet[String], maxStopLen: Int): InternalRow = {
    val b = s.getBytes
    val n = b.length
    // trim bounds (' ' only — Spark trim semantics)
    var ts = 0
    while (ts < n && b(ts) == ' ') ts += 1
    var te = n
    while (te > ts && b(te - 1) == ' ') te -= 1
    var totalChars = 0L; var punct = 0L; var digits = 0L
    var letterRuns = 0L; var stopCnt = 0L; var wsRuns = 0L
    var inWs = false
    var runStart = -1
    def endRun(end: Int): Unit = {
      letterRuns += 1
      if (end - runStart <= maxStopLen && stopSet.contains(lowerToken(b, runStart, end)))
        stopCnt += 1
      runStart = -1
    }
    var i = 0
    while (i < n) {
      val c = b(i)
      val isCont = (c & 0xC0) == 0x80 // UTF-8 continuation byte: not a code point
      val isLetter = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      if (isLetter) { if (runStart < 0) runStart = i }
      else if (runStart >= 0) endRun(i)
      if (!isCont) {
        totalChars += 1
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
        if (!isLetter && !isWs && !(c >= '0' && c <= '9')) punct += 1
        if (c >= '0' && c <= '9') digits += 1
        if (i >= ts && i < te) {
          if (isWs) { if (!inWs) { wsRuns += 1; inWs = true } }
          else inWs = false
        }
      }
      i += 1
    }
    if (runStart >= 0) endRun(n)
    val nTokWs = if (te == ts) 0L else wsRuns + 1L
    val nTokBpe = letterRuns + digits + punct
    val punctRatio = if (totalChars == 0L) 0.0 else punct.toDouble / totalChars.toDouble
    val lenScore = math.min(totalChars.toDouble / 200.0, 1.0)
    val stopRatio = if (letterRuns == 0L) 0.0 else stopCnt.toDouble / letterRuns.toDouble
    val stopScore = math.min(stopRatio * 4.0, 1.0)
    val quality = math.max(0.0, math.min(1.0,
      lenScore * 0.4 + stopScore * 0.4 + (1.0 - punctRatio) * 0.2))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokWs, nTokBpe, stopCnt, letterRuns, punctRatio, quality))
  }

  /** Runtime for [[RepetitionStats]]: whitespace-run split of the
    * space-trimmed byte span into the raw token stream (empty edge
    * tokens kept — regexp-split semantics), counted into per-doc word
    * and adjacent-bigram maps. Word identity is the UTF-8 byte string;
    * the bigram key joins the pair on U+0001 (the oracle's chr(1)).
    */
  def repetitionStats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    var ts = 0
    while (ts < n && b(ts) == ' ') ts += 1
    var te = n
    while (te > ts && b(te - 1) == ' ') te -= 1
    val words = new java.util.HashMap[String, java.lang.Long]()
    val bigrams = new java.util.HashMap[String, java.lang.Long]()
    var nWords = 0L; var topWord = 0L; var topBigram = 0L
    var prev: String = null
    def bump(m: java.util.HashMap[String, java.lang.Long], k: String): Long = {
      val c = m.get(k)
      val nc = if (c == null) 1L else c.longValue() + 1L
      m.put(k, nc)
      nc
    }
    def endWord(st: Int, en: Int): Unit = {
      val w = new String(b, st, en - st, java.nio.charset.StandardCharsets.UTF_8)
      nWords += 1
      val wc = bump(words, w)
      if (wc > topWord) topWord = wc
      if (prev != null) {
        val bc = bump(bigrams, prev + "\u0001" + w)
        if (bc > topBigram) topBigram = bc
      }
      prev = w
    }
    var i = ts
    var wordStart = ts
    while (i < te) {
      val c = b(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r') {
        endWord(wordStart, i)
        i += 1
        while (i < te && {
          val d = b(i); d == ' ' || d == '\t' || d == '\n' || d == '\f' || d == '\r'
        }) i += 1
        wordStart = i
      } else i += 1
    }
    endWord(wordStart, te)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, words.size.toLong, topWord, topBigram))
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Runtime for [[TopCount]]. */
  def topCount(a: ArrayData): Long = {
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var nulls = 0L
    var top = 0L
    var i = 0
    while (i < a.numElements()) {
      val c =
        if (a.isNullAt(i)) { nulls += 1; nulls }
        else {
          val k = a.getUTF8String(i)
          val cell = counts.get(k)
          if (cell == null) { counts.put(k, Array(1L)); 1L }
          else { cell(0) += 1; cell(0) }
        }
      if (c > top) top = c
      i += 1
    }
    top
  }

  /** Same fold order as aggregate(zip_with(a,b,*), 0, +): sequential. */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The ±1 SRP hyperplane component for (seed, bit, dim) — THE single
    * source of the plane matrix: the srpSig kernel evaluates it per
    * element, and q37's generated oracle SQL embeds the same values as
    * constants, so Spark buckets and the DuckDB replay can't drift.
    */
  def srpPlaneSign(seed: Long, bit: Int, dim: Int): Double =
    if ((splitmix64(seed ^ (bit.toLong << 32) ^ dim) & 1L) == 0L) 1.0 else -1.0

  def srpSig(vec: ArrayData, nBits: Int, seed: Long): Long = {
    var sig = 0L
    var p = 0
    while (p < nBits) {
      var proj = 0.0
      var j = 0
      val n = vec.numElements()
      while (j < n) {
        proj += vec.getDouble(j) * srpPlaneSign(seed, p, j)
        j += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

/** Cosine similarity of two array<double> vectors — identical operation
  * order to the sequential-fold HOF formulation (dot/(|a||b|)), one
  * codegen'd pass instead of three interpreted lambda traversals.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.TextKernels.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(l, r)
}

/** The largest element multiplicity of an array<string> — the count of
  * its most frequent element (0 for an empty array), with the explode +
  * groupBy(row, element) + max semantics: elements compare by their
  * UTF-8 bytes and the nulls of one array count as one element. One
  * hash-map pass per row instead of a shuffle of every element.
  */
case class TopCount(child: Expression)
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"top_count needs array<string>, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "top_count"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.topCount(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.topCount($v)")
  override protected def withNewChildInternal(c: Expression): TopCount = copy(child = c)
}

/** Multiplicity-preserving stopword hit count over the `[a-z]+` token
  * stream — one byte pass, replacing the regexp + array-filter HOF chain
  * (values identical, so DuckDB oracles keep matching).
  */
case class StopwordCount(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def prettyName: String = "stopword_count"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.stopwordCount(v.asInstanceOf[UTF8String], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", set, "java.util.HashSet<String>")
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.stopwordCount($v, $setRef)")
  }
  override protected def withNewChildInternal(c: Expression): StopwordCount = copy(child = c)
}

/** The full per-document text-statistics battery in ONE byte pass —
  * whitespace token count, BPE-ish token count, stopword hits, `[a-z]+`
  * token count, punctuation ratio and the composite quality score. Each
  * field is value-identical to the regexp formulation it replaces
  * (`split(trim(c),"\\s+")`, `[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]`
  * extraction, `[^A-Za-z0-9\\s]` removal, the Gopher-style score), so
  * the pinned DuckDB oracles keep matching digit-for-digit; the regexp
  * chain cost ~8 engine passes + array materialization per row and
  * dominated q38/q76 at scale (measured 9.9× of the 10× data step —
  * linear in compute, 12 s at sf1 — where this pass is bound by a single
  * scan of the bytes).
  */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with Serializable {
  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  @transient private lazy val maxStopLen: Int =
    if (stopwords.isEmpty) 0 else stopwords.map(_.length).max
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.textStats(v.asInstanceOf[UTF8String], set, maxStopLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", set, "java.util.HashSet<String>")
    defineCodeGen(ctx, ev,
      v => s"graft.expressions.TextKernels.textStats($v, $setRef, $maxStopLen)")
  }
  override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tok_ws", LongType, nullable = false),
    StructField("n_tok_bpe", LongType, nullable = false),
    StructField("stop_cnt", LongType, nullable = false),
    StructField("n_az_tok", LongType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))
}

/** One-pass word-level repetition signals — the Gopher repetition-filter
  * family (duplicate-word ratio, most-common-word fraction, most-common
  * adjacent-bigram fraction) a pretraining pipeline runs over every
  * document. The reference's fused single-pass string-kernel shape
  * (src/kernels/string.rs macros) applied to the whitespace-token stream:
  * one byte pass builds per-doc word and adjacent-bigram frequency maps,
  * so there is no explode, no per-doc shuffle, and no array
  * materialization — the alternative Column formulation (split + explode +
  * two groupBys + window) shuffles every token of every document.
  *
  * Tokenization is pinned to the gate oracle's
  * `regexp_split_to_array(trim(text), '\s+')`: trim strips ' ' only, the
  * whitespace class is RE2's `\s` = [ \t\n\f\r] (same alignment note as
  * textStats), and split keeps leading/trailing empty segments produced
  * by non-space whitespace at the trimmed span's edges — an empty or
  * all-space document yields the single empty token, exactly like the
  * regexp split of ''.
  *
  * Emits COUNTS only (n_words, n_distinct_words, top_word_cnt,
  * top_bigram_cnt); ratio arithmetic stays in Column space so Spark and
  * the DuckDB oracle form the doubles with the identical IEEE op
  * sequence.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = RepetitionStats.schema
  override def prettyName: String = "repetition_stats"
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.repetitionStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.expressions.TextKernels.repetitionStats($v)")
  override protected def withNewChildInternal(c: Expression): RepetitionStats = copy(child = c)
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct_words", LongType, nullable = false),
    StructField("top_word_cnt", LongType, nullable = false),
    StructField("top_bigram_cnt", LongType, nullable = false)))
}
