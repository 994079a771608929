package graft.llm

import graft.expressions.{RollingHash, StopwordCount, TextStats}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension, SURVEY.md §7.1 step 8): tokenization, quality
  * scoring, language-ID, fingerprinting. Everything is a Catalyst
  * expression (split/regexp/higher-order functions) — codegen'd,
  * shuffle-free, linear scans that hold at 100 TB.
  */
object TextAnalysis {

  /** Lowercase word tokens (letters only), multiplicity preserved — the
    * library's single tokenization convention: case-folded ASCII
    * `[A-Za-z]+` runs (AsciiTokens kernel, shared byte-pass machinery
    * with ShingleTokens/StopwordCount/TextStats). Oracles replay it as
    * `list_transform(regexp_extract_all(text, '[A-Za-z]+'), x -> lower(x))`.
    */
  def wordTokens(c: Column): Column =
    toCol(graft.expressions.AsciiTokens(toExpr(c.cast("string"))))

  /** Uppercase-hex BYTE n-grams (stride 1, multiplicity preserved) — the
    * script-agnostic feature path beside [[wordTokens]]: a CJK / Cyrillic
    * / Arabic document presents zero `[A-Za-z]+` features but a full byte
    * stream, so every token statistic and trained classifier taking a
    * tokenizer can see non-Latin text through this one (the fastText
    * feature shape). Hex STRINGS keep the md5 feature bucket portable;
    * oracles replay the exact stream as
    * `list_transform(range(1, octet_length(encode(t)) - n + 2),
    *    i -> substr(hex(encode(t)), 2*i - 1, 2*n))`.
    */
  def byteNgrams(c: Column, n: Int): Column =
    toCol(graft.expressions.ByteNgrams(toExpr(c.cast("string")), n))

  /** Byte-class profile struct (n_bytes, n_letter, n_digit, n_ws,
    * n_lead2, n_lead3, n_lead4, n_other) — one codegen pass; the cheap
    * script signal (CJK ⇒ 3-byte leads, Cyrillic/Arabic ⇒ 2-byte) and
    * the mojibake tell (lead/continuation imbalance), exact longs only.
    */
  def byteClassStats(c: Column): Column =
    toCol(graft.expressions.ByteClassStats(toExpr(c.cast("string"))))

  /** Repetition filters (the public Gopher/MassiveText quality-rule family):
    * fraction of distinct unigrams and the duplicate-bigram fraction. High
    * repetition marks boilerplate/generated text. `toks` must be a
    * MATERIALIZED column reference (HOF lambdas re-evaluate captured
    * expressions per element — compute wordTokens in a projection first).
    */
  def distinctUnigramRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks).cast("double"))

  /** Count of the most frequent element of a token array (0 when empty) —
    * the numerator of the top-token share. One TopCount kernel pass per
    * row, in the projection that holds `toks`; an explode + groupBy
    * formulation shuffles every token and needs the tokens twice.
    */
  def topTokenCount(toks: Column): Column = toCol(graft.expressions.TopCount(toExpr(toks)))

  /** 1 − distinct/total over word bigrams; 0 for docs under two tokens. */
  def dupBigramFraction(toks: Column): Column = {
    val bigrams = transform(sequence(lit(0), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2)))
    when(size(toks) < 2, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(bigrams)).cast("double") / (size(toks) - 1).cast("double"))
  }

  /** Most-common-element repetition signals — the other half of the
    * Gopher/MassiveText repetition-rule family: the fraction of the
    * document taken by its single most frequent word and by its most
    * frequent adjacent word bigram. Unlike the distinct-ratio rules
    * above, these need a per-doc FREQUENCY map (argmax of counts), which
    * the higher-order-function formulation cannot express without
    * explode + two groupBys + a window — a shuffle of every token of
    * every document. The RepetitionStats kernel builds both maps in the
    * same one byte pass instead (struct: n_words, n_distinct_words,
    * top_word_cnt, top_bigram_cnt over the whitespace-token stream).
    */
  def repetitionStats(c: Column): Column =
    toCol(graft.expressions.RepetitionStats(toExpr(c.cast("string"))))

  /** The whole stats battery (ws/BPE token counts, stopword hits, [a-z]+
    * token count, punct ratio, quality) as ONE single-pass codegen struct
    * — the regexp formulations below each project a field of it, so a
    * projection using several collapses to one byte scan under
    * whole-stage-codegen common-subexpression elimination (measured: the
    * 8-regexp chain was the suite's most compute-bound query at 10×
    * scale).
    */
  def textStats(c: Column): Column = toCol(TextStats(toExpr(c.cast("string")), StopEn))

  /** Whitespace token count (0 for blank strings) — value-identical to
    * `size(split(trim(c), "\\s+"))` with the blank guard.
    */
  def tokenCountWs(c: Column): Column = textStats(c).getField("n_tok_ws")

  /** BPE-ish token count: word pieces + digits + individual punctuation
    * (`[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]` match count).
    */
  def tokenCountBpe(c: Column): Column = textStats(c).getField("n_tok_bpe")

  /** Characters of punctuation / total characters
    * (`[^A-Za-z0-9\\s]` removal formulation).
    */
  def punctRatio(c: Column): Column = textStats(c).getField("punct_ratio")

  private[graft] val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Count of tokens appearing in a stopword list (with multiplicity) —
    * single-pass StopwordCount kernel, value-identical to filtering the
    * regexp token stream.
    */
  def stopwordCount(c: Column, stopwords: Seq[String] = StopEn): Column =
    toCol(StopwordCount(toExpr(c.cast("string")), stopwords))

  /** Stopword ratio ∈ [0,1]; 0 for token-less text. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = StopEn): Column = {
    val n = size(wordTokens(c))
    when(n === 0, lit(0.0))
      .otherwise(stopwordCount(c, stopwords).cast("double") / n.cast("double"))
  }

  /** Heuristic quality score ∈ [0,1]: length band + stopword presence −
    * punctuation noise. Deterministic, SQL-expressible (oracle-checkable):
    * `greatest(0, least(1, least(len/200,1)·0.4 +
    * least(stopRatio·4,1)·0.4 + (1−punctRatio)·0.2))`, evaluated in the
    * kernel with the identical double-operation order.
    */
  def qualityScore(c: Column): Column = textStats(c).getField("quality")

  /** Per-language stopword hit tables for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: en > es > de > fr > zh order.
    */
  private val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "fast", "slow", "small"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "zh" -> Seq.empty)

  /** Language-ID: argmax of stopword hits (CJK ratio would gate zh on real
    * data; the fixture corpus is latin-script). Returns the language code
    * with the highest hit count, "und" when nothing matches.
    */
  def langId(c: Column): Column = {
    val scored = LangStops.filter(_._2.nonEmpty).map { case (lang, stops) =>
      lang -> stopwordCount(c, stops)
    }
    val best = scored.foldLeft[(Column, Column)]((lit("und"), lit(0L))) {
      case ((bLang, bScore), (lang, score)) =>
        (when(score > bScore, lit(lang)).otherwise(bLang),
          when(score > bScore, score).otherwise(bScore))
    }
    best._1
  }

  /** Normalized-content MD5 fingerprint: whitespace-collapsed, lowercased,
    * trimmed. Engine-portable (md5 is standard everywhere) — which is why
    * the collapse class is the EXPLICIT [ \t\n\f\r], not Java's \s: Java
    * \s also eats \x0B, RE2 (the oracle engine) does not, and every
    * oracle replays this fingerprint with RE2 '\s+'. Same alignment as
    * simHashMd5Sigs' exclusion filter.
    */
  def md5Fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "[ \t\n\f\r]+", " ").cast("binary"))

  /** 64-bit rolling-hash fingerprint (custom RollingHash expression). */
  def hashFingerprint(c: Column): Column = toCol(RollingHash(toExpr(c.cast("string"))))

  /** PII redaction patterns, applied IN THIS ORDER (IP before phone so a
    * dotted octet run is never half-eaten as a dotted phone; card before
    * SSN/phone so a 16-digit PAN isn't partially consumed). Every regex
    * stays inside the Java-regex ∩ RE2 common subset (no lookaround, no
    * backrefs, ASCII classes) so the same pattern text runs on Spark and
    * DuckDB oracles verbatim.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("card", "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b", "<CARD>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"))

  /** Text with each PII category replaced by its placeholder token —
    * sequential global regexp_replace, codegen'd, shuffle-free.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, re, tok)) =>
      regexp_replace(acc, re, tok)
    }

  /** Match count of one PII category on the RAW text (counts are
    * independent per category; a string can be counted by two categories
    * if patterns overlap — redaction order, not counting order, decides
    * who wins the replacement).
    */
  def piiCount(c: Column, category: String): Column = {
    val re = piiPatterns.collectFirst { case (`category`, r, _) => r }
      .getOrElse(throw new IllegalArgumentException(s"unknown PII category: $category"))
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
  }

  /** Per-language abbreviation tables: tokens whose trailing period is
    * NOT a sentence boundary, compared lowercase against the whole
    * whitespace token. [[splitSentences]] guards with the union of the
    * requested languages; [[SentenceAbbrevs]] (the English table) stays
    * the default so existing callers and oracles are unchanged.
    */
  val SentenceAbbrevsByLang: Map[String, Seq[String]] = Map(
    "en" -> Seq(
      "mr.", "mrs.", "ms.", "dr.", "prof.", "jr.", "sr.", "st.", "no.",
      "fig.", "vs.", "etc.", "e.g.", "i.e.", "jan.", "feb.", "mar.",
      "apr.", "jun.", "jul.", "aug.", "sep.", "oct.", "nov.", "dec."),
    "de" -> Seq("z.b.", "bzw.", "usw.", "ca.", "nr.", "bspw.", "evtl.", "ggf."),
    "es" -> Seq("sr.", "sra.", "srta.", "ud.", "uds.", "av.", "pág."),
    "fr" -> Seq("m.", "mme.", "mlle.", "av.", "p.ex."))

  /** The English table — the [[splitSentences]] default guard list. */
  val SentenceAbbrevs: Seq[String] = SentenceAbbrevsByLang("en")

  /** Sentence terminators beyond ASCII `.!?`: ideographic full stop,
    * fullwidth !/?, Arabic question mark, ellipsis. CJK and Arabic prose
    * terminates sentences WITHOUT a following space (scriptio continua),
    * so [[splitSentences]] force-splits after any run of these (plus
    * trailing fullwidth/curly closers) before tokenizing — each CJK
    * sentence then arrives as exactly one whitespace token and the
    * ASCII token-walk boundary logic applies unchanged. Both regexes
    * stay in the Java∩RE2 subset (literal BMP chars, no lookaround) so
    * the oracle replays them verbatim.
    */
  private[llm] val MbTerminators = "。！？؟…"
  private[llm] val MbClosers = "」』）】》〉”’"
  /** Match pattern for the post-terminator split point (capture group 1
    * is re-emitted, a space is appended). Shared with the oracle.
    */
  val MbBoundaryRe: String = s"([$MbTerminators]+[$MbClosers]*)"

  /** Rule-based sentence segmentation — the unit C4-style line rules,
    * sentence-level dedup, and fixed-span chunking actually want (a
    * chunk boundary mid-sentence costs coherence). Token-walk splitter,
    * deliberately regex-lookaround-free so ANY engine replays it (RE2
    * has no lookbehind): a whitespace token ENDS a sentence when it ends
    * with `.`/`!`/`?` or a multibyte terminator ([[MbTerminators]]:
    * 。！？؟…, optionally followed by closing quotes/brackets, ASCII or
    * fullwidth) and is neither a listed abbreviation (the union of the
    * requested [[SentenceAbbrevsByLang]] tables) nor a single capital
    * initial (`E.`). CJK/Arabic scriptio continua is handled by a
    * pre-tokenize force-split after terminator runs ([[MbBoundaryRe]]),
    * so `你好。世界` yields two tokens and the same walk applies.
    * Sentences are in-document ordered token folds; a trailing
    * unterminated fragment is kept with terminated = false (auditable,
    * never silently dropped — decimals like `3.14` never match because
    * they end in a digit).
    *
    * Scale shape: one document-partitioned window (documents are
    * KB-sized) + one (doc, sentence) aggregate; tokens shuffle once as
    * (id, idx, token) rows. Output: id, sent_idx, sentence, n_tok,
    * terminated.
    */
  def splitSentences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langs: Seq[String] = Seq("en")): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val abbrevs = langs.flatMap(l => SentenceAbbrevsByLang.getOrElse(l,
      throw new IllegalArgumentException(s"no abbreviation table for language: $l")))
      .distinct
    val pre = regexp_replace(trim(col(textCol)), MbBoundaryRe, "$1 ")
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(pre, "\\s+")).as(Seq("tidx", "tok")))
      .filter(col("tok") =!= "")
    val isEnd = col("tok").rlike(s"[.!?$MbTerminators][\"')\\]$MbClosers]*$$")
    val isAbbrev = lower(col("tok")).isin(abbrevs: _*)
    val isInitial = col("tok").rlike("^[A-Z][.]$")
    val flagged = toks.withColumn("bnd",
      (isEnd && !isAbbrev && !isInitial).cast("int"))
    val w = Window.partitionBy(col("id")).orderBy(col("tidx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("sent_idx", coalesce(sum(col("bnd")).over(w), lit(0L)).cast("int"))
      .groupBy(col("id"), col("sent_idx"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("tidx"), col("tok").as("t")))),
          x => x.getField("t")), " ").as("sentence"),
        count(lit(1)).as("n_tok"),
        (max(col("bnd")) === 1).as("terminated"))
  }

  /** TF-IDF top-k terms per document. tf = termCount/docLen, idf =
    * ln(N/df). Two aggregations (per-(doc,term) counts, per-term doc
    * frequency) + a bounded per-doc top-k window — the standard
    * distributed shape: shuffles move (doc,term) counts, never documents.
    * Ranking uses round(tfidf,6) with a term tie-break for cross-engine
    * determinism.
    */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val terms = df.select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
    // NOTE (round-16 attempt, REVERTED): persisting these counts so
    // docLen/docFreq re-aggregate them (one tokenize pass total) measured
    // 1.01 -> 1.82 s (7-pass gc-isolated A/B, sf0.1/local[32]): the
    // (doc,term) cache write costs more than the redundant tokenize
    // passes, which run as parallel stages of one job locally.
    val tf = terms.groupBy(col("id"), col("term")).agg(count(lit(1)).as("c"))
    val docLen = terms.groupBy(col("id")).agg(count(lit(1)).as("len"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(docLen, "id").join(docFreq, "term")
      .withColumn("tfidf",
        round((col("c").cast("double") / col("len")) * log(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("id"), col("term"), col("tfidf"), col("rk").cast("long").as("rk"))
  }

  /** Sparse TF-IDF cosine similarity pairs via the inverted index — the
    * lexical leg of near-dup detection, between exact n-gram Jaccard
    * (set overlap, `Dedup.ngramJaccardPairs`) and dense-embedding cosine
    * (`Similarity.cosineNearDupPairs`): weighted-term overlap that scores
    * boilerplate-heavy near-dups MinHash misses.
    *
    * Distributed shape: only (term, doc, weight) triplets ever shuffle —
    * never document text. `maxDocFreq` prunes terms present in more than
    * that fraction of the corpus BEFORE the self-join (a term in p·N docs
    * produces (p·N)² join rows — the same posting-list guard as the
    * n-gram index); pruned cosines are computed over the surviving
    * dimensions on BOTH sides, so the metric is "cosine over
    * non-boilerplate vocabulary", matching what the oracle replays.
    * Weights are rounded to 9 digits so both engines sum identical
    * doubles; the final cosine rounds to 6.
    */
  def tfIdfCosinePairs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      minCos: Double, maxDocFreq: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val terms = df.select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
    // (round-16: persisting these counts, so the weight fill tokenizes
    // once instead of three times, measured 0.99 -> 1.43 s at sf0.1 —
    // same cache-write-vs-parallel-rescan tradeoff as tfIdfTopTerms;
    // kept unpersisted.)
    val tf = terms.groupBy(col("id"), col("term")).agg(count(lit(1)).as("c"))
    val docLen = tf.groupBy(col("id")).agg(sum(col("c")).as("len"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(maxDocFreq * n))
    // not cached: both self-join sides read one exchange on `term`,
    // which adaptive execution reuses only above an uncached plan
    val w = tf.join(docLen, "id").join(docFreq, "term")
      .select(col("id"), col("term"),
        round((col("c").cast("double") / col("len")) * log(lit(n.toDouble) / col("df")), 9)
          .as("w"))
    val norms = w.groupBy(col("id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val a = w.select(col("id").as("id1"), col("term"), col("w").as("w1"))
    val b = w.select(col("id").as("id2"), col("term"), col("w").as("w2"))
    a.join(b, Seq("term")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("w1") * col("w2")).as("dot"))
      .join(norms.select(col("id").as("id1"), col("nrm").as("n1")), "id1")
      .join(norms.select(col("id").as("id2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Corpus-derived unigram language-model score per document — the
    * perplexity-style LM quality filter of web-corpus curation (CCNet /
    * Gopher family), with the corpus itself as the model so no external
    * LM artifact is needed: avg_logp(d) = Σ_t c_t·ln(count(t)/T) / len(d).
    * Lower (more negative) = rarer vocabulary = further from the corpus
    * distribution; a pipeline thresholds or quantile-buckets this score.
    *
    * Distributed shape: ONE pass over text produces per-(doc,term) counts;
    * the corpus model (term totals + the scalar grand total) re-aggregates
    * those counts — text is tokenized once and documents never shuffle
    * whole, only (id,term,c) triplets do. The grand total joins as a
    * provably-one-row broadcast (same shape as q149's weight-sum). MLE
    * probabilities need no smoothing: the vocabulary is derived from the
    * scored corpus, so OOV is impossible by construction. Zero-token
    * documents surface as (n_tok=0, avg_logp=NULL) via the left join —
    * a quality filter must see them, not silently drop them.
    */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      tokens: Column => Column = wordTokens): org.apache.spark.sql.DataFrame = {
    val terms = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    // model totals re-aggregate the counts; never re-tokenize
    val tf = graft.ops.CacheRegistry.persist(
      terms.groupBy(col("id"), col("term")).agg(count(lit(1)).as("c")))
    unigramLogProbFromCounts(tf, df.select(col(idCol).as("id")))
  }

  /** [[unigramLogProb]] from a pre-aggregated `(id, term, c)` count table
    * plus the document-id universe (which must include zero-token docs —
    * they surface as (n_tok=0, NULL) through the left join). The reusable
    * half that makes the score INCREMENTAL: a streaming monitor merges
    * per-batch count triplets into cumulative state and re-derives every
    * score from counts alone — text is never re-read (q170's leg, the
    * same split as [[sourceTokenKLFromCounts]]).
    */
  def unigramLogProbFromCounts(tf: org.apache.spark.sql.DataFrame,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // NOTE (round-15 measurement): persisting `model` was tried and
    // REVERTED — the cache barrier cost +0.3 s flat on small-vocabulary
    // calls (q150 0.12 -> 0.43 s, q163 +52%) for one cheap pass over `tf`.
    val model = tf.groupBy(col("term")).agg(sum(col("c")).as("ct"))
    val total = tf.agg(sum(col("c")).cast("double").as("t"))
    val scored = tf.join(model, "term").crossJoin(total)
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tok"),
        (sum(col("c") * log(col("ct").cast("double") / col("t"))) / sum(col("c")))
          .as("lp"))
    ids.join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        round(col("lp"), 6).as("avg_logp"))
  }

  /** Interpolated bigram-LM quality score — the next rung of the
    * perplexity-filter ladder above [[unigramLogProb]] (CCNet trains a
    * 5-gram KenLM; the deterministic, oracle-replayable core of that
    * family is an interpolated bigram over the corpus's own counts):
    * for every adjacent token pair the per-position probability is
    *   p(i) = λ·P(wᵢ | wᵢ₋₁) + (1−λ)·P(wᵢ),
    * with P(wᵢ|wᵢ₋₁) = c(wᵢ₋₁,wᵢ)/c(wᵢ₋₁,·) the corpus bigram MLE and
    * P(wᵢ) = c(wᵢ)/T the unigram marginal, and the document score is the
    * mean log p over its n−1 bigram positions. Interpolation keeps every
    * position finite without smoothing constants: the unigram leg can
    * never be zero because the vocabulary IS the scored corpus (the same
    * no-OOV-by-construction argument as [[unigramLogProb]]).
    *
    * Distributed shape: one pass builds per-doc bigram count triplets
    * `(id, prev, cur, c)` via a zip of the token array with its own
    * 1-shift (pure projection — documents never shuffle whole); the
    * bigram model and the context totals both RE-aggregate those
    * triplets, and the unigram marginal re-aggregates the q150-shaped
    * `(id, term, c)` triplets, so text is tokenized once per leg and
    * only Heaps-bounded counts move. The grand total joins as a
    * provably-one-row broadcast. Documents with fewer than two tokens
    * have no bigram positions and surface as (n_big=0, NULL) through the
    * left join — a filter must see them, not silently drop them.
    */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lambda: Double = 0.7,
      tokens: Column => Column = wordTokens): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda < 1, s"interpolation weight must be in (0,1): $lambda")
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("ws"))
    // adjacent pairs: zip ws with its own 1-shift (slice is 1-based)
    val pairRows = toks.filter(size(col("ws")) >= 2)
      .select(col("id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    // the bigram model and context totals re-aggregate these
    val bf = graft.ops.CacheRegistry.persist(pairRows.groupBy(col("id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("c")))
    val bgModel = bf.groupBy(col("prev"), col("cur")).agg(sum(col("c")).as("cb"))
    val ctxTot = bf.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
    // NOTE (round-16 optimization attempt, REVERTED with measurements):
    // a single-pass shape — every position as (prev-or-NULL, cur) pairs
    // from one NULL-prepended zip, with the unigram marginal derived by
    // re-aggregating the persisted pair counts over `cur` — removes this
    // leg's second tokenization/scan entirely, but measured 2.04 -> 2.60 s
    // (+27%, 9-pass gc-isolated A/B at sf0.1/local[32], calibration
    // steady): the two legs here run as INDEPENDENT parallel stages of
    // one job, while the single-pass form serializes every consumer
    // behind the pair-count persist barrier. The two-pass form is kept
    // as the measured-faster local shape; at cluster scale the
    // stage-overlap advantage shrinks while the saved text pass grows,
    // so revisit with real cluster numbers before re-attempting.
    val uf = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cu"))
    val total = uf.agg(sum(col("cu")).cast("double").as("t"))
    val scored = bf.join(bgModel, Seq("prev", "cur")).join(ctxTot, Seq("prev"))
      .join(uf.withColumnRenamed("term", "cur"), Seq("cur"))
      .crossJoin(total)
      .withColumn("p",
        lit(lambda) * col("cb").cast("double") / col("cp")
          + lit(1.0 - lambda) * col("cu").cast("double") / col("t"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_big"), (sum(col("c") * log(col("p"))) / sum(col("c"))).as("lp"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_big"), lit(0L)).as("n_big"),
        round(col("lp"), 6).as("avg_logp"))
  }

  /** Quality-quantile selection — the "train on the top slice by LM
    * quality" policy (CCNet's perplexity-bucket selection reduced to its
    * deterministic core): keep documents whose corpus-derived unigram-LM
    * score ([[unigramLogProb]]) is at or above the q-th percentile of
    * the scored corpus. The cutoff is computed over the ROUNDED at-rest
    * scores (engine-portable) with the exact-percentile prefix-sum
    * machinery and reduced to a provably-one-row frame that broadcasts
    * back — documents never shuffle for the decision. NULL scores
    * (zero-token docs) get an explicit kept=false.
    */
  def selectByQualityQuantile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, q: Double,
      tokens: Column => Column = wordTokens): org.apache.spark.sql.DataFrame =
    selectByQuantileFromScores(unigramLogProb(df, idCol, textCol, tokens), q)

  /** The cutoff-and-keep half of [[selectByQualityQuantile]], over an
    * already-scored `(id, n_tok, avg_logp)` frame — shared by the batch
    * operator and the streaming twin (q170), so there is exactly one
    * percentile/keep rule to drift.
    */
  def selectByQuantileFromScores(scored: org.apache.spark.sql.DataFrame,
      q: Double): org.apache.spark.sql.DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1): $q")
    val cut = graft.ops.Percentiles.exactPercentiles(
        scored.filter(col("avg_logp").isNotNull).withColumn("__g", lit(1)),
        "__g", "avg_logp", Seq(q), Seq("c"))
      .agg(max(col("c")).as("cutoff")) // global agg: maxRows=1, sweep-provable
    scored.crossJoin(broadcast(cut))
      .select(col("id"), col("n_tok"), col("avg_logp"),
        coalesce(col("avg_logp") >= col("cutoff"), lit(false)).as("kept"))
  }

  /** STREAMING quality-quantile selection — q163's policy as an ingest
    * loop (the operational form of "train on the top slice"): each
    * micro-batch appends its per-doc `(id, term, c)` count triplets (plus
    * one NULL-term sentinel row per doc, so zero-token docs stay in the
    * id universe) to epoch-partitioned state, then RE-SCORES the whole
    * cumulative corpus from counts alone — the unigram model shifts with
    * every arriving batch, so earlier documents' scores and the quantile
    * cutoff legitimately move — and emits the full keep-set snapshot.
    * The FINAL snapshot equals the batch [[selectByQualityQuantile]] over
    * everything streamed (q136/q158 proof pattern, oracle-pinned by
    * q170). Text is tokenized once in its arrival batch; every re-score
    * touches only Heaps-bounded count triplets, and `compactEvery` folds
    * settled epochs into one summed generation (additive ⇒
    * decision-neutral) exactly like [[unigramDriftStreaming]]'s.
    *
    * Returns the snapshots read back from `outDir`:
    * (batch_id, id, n_tok, avg_logp, kept).
    */
  def qualityQuantileStreaming(spark: org.apache.spark.sql.SparkSession, stagedDir: String,
      schema: org.apache.spark.sql.types.StructType, idCol: String, textCol: String,
      q: Double, stateDir: String, outDir: String,
      checkpointDir: Option[String] = None,
      compactEvery: Int = 0): org.apache.spark.sql.DataFrame =
    EpochStream.run(spark, stagedDir, schema, checkpointDir,
        outDir, verdictSchema(schema(idCol).dataType)) { (batch, batchId) =>
      val bt = batchTermCounts(batch, idCol, textCol)
      new StateFamily(bt.sparkSession, stateDir, bt.schema, StateFamily.Stream)
        .accumulate(bt, batchId, compactEvery) { cum =>
          val scored = unigramLogProbFromCounts(
            cum.filter(col("term").isNotNull), cum.select(col("id")).distinct())
          EpochStream.writeSnapshot(selectByQuantileFromScores(scored, q), outDir, batchId)
        }
    }

  /** STREAMING quality-quantile selection against a generationally FROZEN
    * model — the scale-safe twin of [[qualityQuantileStreaming]] and the
    * shape the original pipeline actually runs (CCNet scores against a
    * FIXED reference LM; it never re-scores the corpus per batch). Where
    * the moving-model leg re-reads all settled history and re-scores
    * every document ever seen on every trigger (O(corpus) work and I/O
    * per trigger, forever — the history-length axis that kills it at
    * 100 TB), this one:
    *
    *   - freezes the unigram model and the quantile cutoff ONCE per
    *     generation (`generationEvery` batches): generation g ≥ 1 scores
    *     against the counts of batches [0, g·G) and the p-q cutoff over
    *     those batches' ARRIVAL scores; generation 0 boots on batch 0's
    *     own counts and scores (the only self-referential step, same as
    *     the batch semantics on a one-batch corpus);
    *   - scores each batch's documents ONCE, on arrival, against the
    *     current generation summary — a document's score is final (the
    *     CCNet contract), terms outside the frozen vocabulary are
    *     dropped from both numerator and denominator, and a document
    *     with no in-model terms surfaces as (n_tok=0, NULL, kept=false);
    *   - emits keep-set DELTAS — each snapshot holds only that batch's
    *     documents (the q127 diff shape), not the full cumulative set.
    *
    * Per-trigger read = the generation summary (vocabulary-bounded model
    * + 1-row cutoff) + the batch. Boundary triggers additionally fold the
    * settled term counts (Heaps-bounded) and read settled arrival scores
    * once (O(docs), amortized 1/G). State: `terms/` batch vocab counts
    * and `scores/` arrival scores, one epoch per batch, and `models/` +
    * `cuts/` frozen summaries, one epoch per generation — all
    * [[StateFamily.Stream]] families, so at-least-once re-runs converge
    * (a re-run boundary re-derives the identical summary from settled
    * state).
    *
    * Returns the snapshots read back from `outDir`:
    * (batch_id, id, n_tok, avg_logp, kept).
    */
  def qualityQuantileStreamingFrozen(spark: org.apache.spark.sql.SparkSession,
      stagedDir: String, schema: org.apache.spark.sql.types.StructType,
      idCol: String, textCol: String,
      q: Double, stateDir: String, outDir: String,
      checkpointDir: Option[String] = None,
      generationEvery: Int = 1): org.apache.spark.sql.DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1): $q")
    require(generationEvery >= 1, s"generation width must be >= 1: $generationEvery")
    EpochStream.run(spark, stagedDir, schema, checkpointDir,
        outDir, verdictSchema(schema(idCol).dataType)) { (batch, batchId) =>
      val gen = batchId / generationEvery
      graft.ops.CacheRegistry.during(batchTermCounts(batch, idCol, textCol)) { tf =>
        val tc = tf.filter(col("term").isNotNull)
          .groupBy(col("term")).agg(sum(col("c")).as("c"))
        val terms = new StateFamily(tc.sparkSession, stateDir + "/terms", tc.schema,
          StateFamily.Stream)
        terms.append(tc, batchId)
        val boundary = batchId % generationEvery == 0
        if (boundary) {
          // freeze generation g's model: batch 0 boots on its own counts,
          // later boundaries fold the settled (Heaps-bounded) term state
          val model =
            if (batchId == 0) tc.select(col("term"), col("c").as("ct"))
            else terms.settled(batchId)
              .groupBy(col("term")).agg(sum(col("c")).as("ct"))
          frozenModels(tc.sparkSession, stateDir).append(model, gen)
        }
        val scored = frozenGenScoreFrame(tf, stateDir, gen)
        val scores = new StateFamily(scored.sparkSession, stateDir + "/scores", scored.schema,
          StateFamily.Stream)
        if (boundary) {
          // freeze generation g's cutoff over ARRIVAL scores: batch 0 over
          // its own (just computed against its own frozen model), later
          // generations over all settled scores — the amortized O(docs) read
          val cutSrc =
            if (batchId == 0) scored
            else scores.settled(batchId)
          frozenCuts(tc.sparkSession, stateDir).append(graft.ops.Percentiles.exactPercentiles(
              cutSrc.filter(col("avg_logp").isNotNull).withColumn("__g", lit(1)),
              "__g", "avg_logp", Seq(q), Seq("c"))
            .agg(max(col("c")).as("cutoff")), gen)
        }
        graft.ops.CacheRegistry.during(frozenGenVerdicts(scored, stateDir, gen)) { verdicts =>
          scores.append(verdicts.select(col("id"), col("n_tok"), col("avg_logp")), batchId)
          EpochStream.writeSnapshot(verdicts, outDir, batchId)
        }
      }
    }
  }

  /** The quality-quantile snapshot schema: (id, n_tok, avg_logp, kept). */
  private def verdictSchema(idType: org.apache.spark.sql.types.DataType) =
    new org.apache.spark.sql.types.StructType().add("id", idType)
      .add("n_tok", "bigint").add("avg_logp", "double").add("kept", "boolean")

  /** The batch's `(id, term, c)` count triplets with a NULL-term sentinel
    * (c = 0) per zero-token document, so those stay in the id universe.
    */
  private def batchTermCounts(batch: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    batch.select(col(idCol).as("id"),
        explode_outer(wordTokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(sum(when(col("term").isNotNull, 1L).otherwise(0L)).as("c"))

  /** The frozen generation summaries: the model's `(term, ct)` counts
    * and the one-row quantile cutoff, each a family whose epoch is the
    * generation. The stamp checks the schema on every open.
    */
  private def frozenModels(s: org.apache.spark.sql.SparkSession, stateDir: String) =
    new StateFamily(s, stateDir + "/models",
      new org.apache.spark.sql.types.StructType().add("term", "string").add("ct", "bigint"),
      StateFamily.Stream)
  private def frozenCuts(s: org.apache.spark.sql.SparkSession, stateDir: String) =
    new StateFamily(s, stateDir + "/cuts",
      new org.apache.spark.sql.types.StructType().add("cutoff", "double"), StateFamily.Stream)

  /** Arrival scores of a batch's count triplets against the FROZEN
    * generation-`gen` model at rest: inner join on the frozen vocabulary
    * (out-of-model terms drop from numerator and denominator), left join
    * back to the batch's id universe so featureless docs surface as
    * (n_tok=0, NULL). Reads ONLY `models/epoch=gen` — the per-trigger
    * input bound ScaleSpec asserts.
    */
  private[graft] def frozenGenScoreFrame(tf: org.apache.spark.sql.DataFrame,
      stateDir: String, gen: Long): org.apache.spark.sql.DataFrame = {
    val model = frozenModels(tf.sparkSession, stateDir).read.filter(col("epoch") === gen)
      .select(col("term"), col("ct"))
    val total = model.agg(sum(col("ct")).cast("double").as("t"))
    val scoredRaw = tf.filter(col("term").isNotNull)
      .join(model, "term").crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tok"),
        (sum(col("c") * log(col("ct").cast("double") / col("t"))) / sum(col("c")))
          .as("lp"))
    tf.select(col("id")).distinct().join(scoredRaw, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        round(col("lp"), 6).as("avg_logp"))
  }

  /** Keep verdicts under the frozen generation-`gen` cutoff (1-row read
    * from `cuts/epoch=gen`; NULL cutoff — no scoreable history — keeps
    * nothing).
    */
  private[graft] def frozenGenVerdicts(scored: org.apache.spark.sql.DataFrame,
      stateDir: String, gen: Long): org.apache.spark.sql.DataFrame = {
    val cut = frozenCuts(scored.sparkSession, stateDir).read.filter(col("epoch") === gen)
      .select(col("cutoff"))
    scored.crossJoin(broadcast(cut))
      .select(col("id"), col("n_tok"), col("avg_logp"),
        coalesce(col("avg_logp") >= col("cutoff"), lit(false)).as("kept"))
  }

  /** [[frozenGenScoreFrame]] + [[frozenGenVerdicts]] straight from a raw
    * batch — the one-call form a spec uses to PLAN a non-boundary trigger
    * and assert its input set (generation summary + batch, nothing else).
    */
  private[graft] def frozenQuantileVerdicts(batch: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, stateDir: String,
      gen: Long): org.apache.spark.sql.DataFrame =
    frozenGenVerdicts(
      frozenGenScoreFrame(batchTermCounts(batch, idCol, textCol), stateDir, gen),
      stateDir, gen)

  /** Per-source token-distribution divergence from the whole corpus:
    * KL(p_source ‖ p_corpus) over word unigrams — the mixture-drift
    * diagnostic of multi-source pretraining corpora (which slice's
    * vocabulary is furthest from the blend it feeds). KL is finite by
    * construction: every source term is a corpus term, so q(t) > 0
    * wherever p_s(t) > 0.
    *
    * Distributed shape: one tokenization pass to (source, term) counts,
    * which [[sourceTokenKLFromCounts]] reads once, so text is read once
    * and only count triplets shuffle. Output is one row per source.
    */
  def sourceTokenKL(df: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String,
      tokens: Column => Column = wordTokens): org.apache.spark.sql.DataFrame =
    sourceTokenKLFromCounts(
      df.select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c")))

  /** [[sourceTokenKL]] from a pre-aggregated `(source, term, c)` count
    * table. This is the reusable half that makes the statistic
    * INCREMENTAL: a streaming monitor merges per-batch count triplets into
    * a cumulative table and re-derives the drift from counts alone — text
    * is never re-read ([[graft.streaming]] leg, q158).
    *
    * One exchange chain over `st`: a window over `term` for the corpus
    * count `ct`, one per-source aggregate, then the total `t` over its
    * |sources| rows. As Σ c = ts, KL_s = Σ c·ln(c/ct) / ts + ln(t/ts).
    */
  def sourceTokenKLFromCounts(st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    st.withColumn("ct", sum(col("c")).over(Window.partitionBy(col("term"))))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("ts"),
        sum(col("c") * log(col("c").cast("double") / col("ct"))).as("x"))
      // t as one global row holding the |sources| rows, exploded back: a warm
      // q158 run starts 19 jobs, 23 with per.crossJoin(broadcast(per.agg(...)))
      .agg(collect_list(struct(col("source"), col("ts"), col("x"))).as("s"), sum(col("ts")).as("t"))
      .select(explode(col("s")).as("s"), col("t"))
      .select(col("s.source").as("source"), col("s.ts").as("n_tok"),
        round(col("s.x") / col("s.ts") + log(col("t") / col("s.ts")), 6).as("kl"))
      .filter(col("source").isNotNull) // counted in t, but no row: the SQL form joins USING source
  }

  /** STREAMING unigram-drift monitor — the operational leg of
    * [[sourceTokenKL]]: a document file-stream drained one micro-batch at
    * a time; each batch's `(source, term)` count triplets are appended to
    * a persistent count-triplet state table under an epoch partition, and
    * the per-source KL vs the CUMULATIVE corpus blend is emitted per
    * batch — the drift time series an ingest pipeline alerts on.
    *
    * Exactly the q136 proof pattern: state reads are epoch-isolated
    * (`epoch <= batchId`, this batch's append read back), the state
    * append and the snapshot write are dynamic-partition overwrites, so
    * at-least-once re-runs converge; the FINAL snapshot equals the batch
    * [[sourceTokenKL]] over everything streamed (oracle-pinned by q158).
    * At scale only count triplets ever land in state — text is read once
    * in its arrival batch and never again — and `compactEvery` bounds the
    * STATE LIFECYCLE too: every N batches the settled epochs fold into
    * one summed generation ([[StateFamily.accumulate]]), so the per-trigger
    * state read is generations + live epochs, not one partition per
    * micro-batch ever streamed.
    *
    * Returns the drift snapshots read back from `outDir`:
    * (batch_id, source, n_tok, kl).
    *
    * The fold (GROUP BY source, term, SUM(c)) is decision-neutral by
    * construction because counts are ADDITIVE: every cumulative blend
    * computed over compacted state equals the raw-epoch sum cell-for-cell
    * (LlmSpec proves snapshot equality across two generations). The newest
    * epoch stays live — an at-least-once re-run replaces its own
    * partition, and folding it would double-count that batch.
    */
  def unigramDriftStreaming(spark: org.apache.spark.sql.SparkSession, stagedDir: String,
      schema: org.apache.spark.sql.types.StructType, srcCol: String, textCol: String,
      stateDir: String, outDir: String,
      checkpointDir: Option[String] = None,
      compactEvery: Int = 0): org.apache.spark.sql.DataFrame =
    EpochStream.run(spark, stagedDir, schema, checkpointDir, outDir,
        new org.apache.spark.sql.types.StructType().add("source", schema(srcCol).dataType)
          .add("n_tok", "bigint").add("kl", "double")) { (batch, batchId) =>
      val bt = batch.select(col(srcCol).as("source"), explode(wordTokens(col(textCol))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      new StateFamily(bt.sparkSession, stateDir, bt.schema, StateFamily.Stream)
        .accumulate(bt, batchId, compactEvery) { cum =>
          EpochStream.writeSnapshot(sourceTokenKLFromCounts(cum), outDir, batchId)
        }
    }

  /** The Gopher document-quality rule bundle (Rae et al. 2021 §A1.1.2, the
    * published heuristic filter battery): word-count bounds, mean-word-length
    * band, symbol-to-word ratio (# and ellipsis), alphabetic-word fraction,
    * and minimum stop-word hits — one boolean per rule plus the conjunctive
    * keep decision, so a pipeline can audit WHICH rule rejected a document,
    * not just that one did.
    *
    * Whitespace words (trim + \s+ split, same contract as the fused
    * TextStats n_tok_ws) for the length/symbol/alpha rules; letter tokens
    * for stop-word hits, as in the quality score. Everything is per-row
    * column arithmetic over higher-order functions — codegen-friendly,
    * shuffle-free, trivially 100 TB-safe. Zero-word documents fail every
    * ratio rule (NULL-safe via coalesce) rather than erroring.
    */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
      minStopHits: Int = 2): org.apache.spark.sql.DataFrame = {
    val t = col(textCol).cast("string")
    val ws = filter(split(trim(t), "\\s+"), x => x =!= lit(""))
    val n = size(ws).cast("long")
    val meanLen = aggregate(ws, lit(0L), (a, x) => a + length(x)).cast("double") / n
    val symRatio = (length(t) - length(regexp_replace(t, "#", "")) +
      regexp_count(t, lit("\\.\\.\\."))).cast("double") / n
    val alphaRatio = size(filter(ws, x => x.rlike("[A-Za-z]"))).cast("double") / n
    // EVERY rule coalesces to false so NULL-text documents get an explicit
    // all-false verdict (like zero-word documents) instead of NULL audit
    // columns that a filter(col("kept")) would silently treat as rejected
    val okWords = coalesce(col("n_words").between(minWords, maxWords), lit(false))
    val okMean = coalesce(col("mean_len").between(minMeanLen, maxMeanLen), lit(false))
    val okSym = coalesce(col("sym_ratio") <= maxSymbolRatio, lit(false))
    val okAlpha = coalesce(col("alpha_ratio") >= minAlphaRatio, lit(false))
    val okStop = coalesce(stopwordCount(t) >= minStopHits, lit(false))
    df.select(col(idCol), t.as(textCol), size(ws).cast("long").as("n_words"),
        when(n > 0, meanLen).as("mean_len"),
        when(n > 0, symRatio).as("sym_ratio"),
        when(n > 0, alphaRatio).as("alpha_ratio"))
      .select(col(idCol), col("n_words"),
        okWords.as("ok_words"), okMean.as("ok_mean_len"), okSym.as("ok_symbol"),
        okAlpha.as("ok_alpha"), okStop.as("ok_stop"),
        (okWords && okMean && okSym && okAlpha && okStop).as("kept"))
  }
}
