package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis for large-scale training-data pipelines (north-star
  * extension, BASELINE.json): tokenization, token counting, language
  * identification, quality scoring, and document fingerprinting over
  * the `documents` table.
  *
  * Everything here is a per-row column expression built from Spark
  * built-ins (split / higher-order array functions / regexp) — no UDFs,
  * no shuffles, embarrassingly parallel over document partitions, so
  * the 100 TB path is simply "more partitions". The only aggregation
  * in this file is the caller's own groupBy on the outputs.
  */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, single
    * non-space symbols — the shape GPT-style pre-tokenizers use. */
  val BpeTokenRe = "[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]"

  /** Whitespace tokens, empty strings dropped. */
  def tokensWs(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** The pre-tokenization split rule of the tokenizer the reference
    * ships (`models/RF/Model/tokenizer/tokenizer_config.json` declares
    * `Qwen2Tokenizer`; this is that family's public GPT-4-style split
    * pattern): English contractions, optional-one-prefix-char letter
    * runs, SINGLE digits, space-prefixed punctuation runs, and
    * whitespace handling. The BPE merge stage on top of these pieces
    * needs the (unavailable) vocab weights and is deliberately not
    * replicated — the pieces are what the hash-embedding stand-in
    * consumes. */
  val Qwen2PretokenRe: String =
    """(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\r\n\p{L}\p{N}]?\p{L}+|\p{N}| ?[^\s\p{L}\p{N}]+[\r\n]*|\s*[\r\n]+|\s+(?!\S)|\s+"""

  /** Same rule minus the `\s+(?!\S)` lookahead branch — RE2-compatible
    * for the DuckDB oracle twin. After [[qwen2Pretokenize]]'s
    * trim+filter normalization the two patterns produce identical
    * token multisets: the lookahead branch only changes how pure-
    * whitespace runs split, and those trim to empty either way. */
  val Qwen2PretokenReNoLookahead: String =
    """(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\r\n\p{L}\p{N}]?\p{L}+|\p{N}| ?[^\s\p{L}\p{N}]+[\r\n]*|\s*[\r\n]+|\s+"""

  /** Pre-tokenize with the Qwen2 rules, trim each piece, drop
    * whitespace-only pieces. Trimming reflects that the hash-embedding
    * stand-in treats ` word` and `word` as the same token (a real BPE
    * vocab would not, but its weights are unavailable) and is what
    * makes the token stream engine-reproducible. Case is preserved —
    * the reference tokenizer is case-sensitive. */
  def qwen2Pretokenize(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit(Qwen2PretokenRe), lit(0)),
        // trim(col) strips spaces only — list the whitespace chars
        // explicitly so newline/tab pieces normalize away too
        t => trim(t, " \t\r\n")),
      t => length(t) > 0)

  def tokenCountWs(text: Column): Column = size(tokensWs(text))

  /** Token count under the BPE-ish pre-tokenizer (regexp scan — no
    * array materialization). */
  def tokenCountBpe(text: Column): Column = regexp_count(text, lit(BpeTokenRe))

  // --------------------------------------------------- language ID

  /** Per-language function-word lists for the n-gram-free stopword
    * heuristic. Deliberately tiny: language ID at corpus scale is a
    * membership count per partition, not a model. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una"))

  /** How many lowercase whitespace tokens of `text` are in `words`. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(filter(tokensWs(lower(text)), t => t.isin(words.map(lit): _*)))

  /** Heuristic language ID: highest function-word count wins, ties
    * break in [[Stopwords]] order, all-zero → "und". */
  def langId(text: Column): Column = {
    val scores = Stopwords.map { case (lang, words) =>
      lang -> stopwordCount(text, words)
    }
    val allZero = scores.map(_._2 === 0).reduce(_ && _)
    // en wins ties over de over fr over es: each branch requires >= all later
    val Seq(en, de, fr, es) = scores.map(_._2)
    when(allZero, lit("und"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  // ------------------------------------------------ quality scoring

  /** Quality facets: length, punctuation density, stopword density,
    * mean token length — the standard cheap pre-filters of a training
    * corpus pipeline. All exact-integer ratios cast to double. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nTokens = tokenCountWs(text)
    val punct = nChars - length(regexp_replace(text, "[\\p{P}]", ""))
    val nonspace = length(regexp_replace(text, "[\\s]", ""))
    val stopEn = stopwordCount(text, Stopwords.head._2)
    val punctRatio = punct.cast("double") / nullif(nChars, lit(0))
    val stopRatio = stopEn.cast("double") / nullif(nTokens, lit(0))
    val meanTokLen = nonspace.cast("double") / nullif(nTokens, lit(0))
    val score =
      lit(0.25) * when(nTokens >= 10 && nTokens <= 100000, 1.0).otherwise(0.0) +
      lit(0.25) * when(meanTokLen >= 3.0 && meanTokLen <= 10.0, 1.0).otherwise(0.0) +
      lit(0.25) * (lit(1.0) - coalesce(punctRatio, lit(1.0))) +
      lit(0.25) * least(lit(1.0), coalesce(stopRatio, lit(0.0)) * 5.0)
    Seq("n_chars" -> nChars, "n_tokens_ws" -> nTokens,
      "n_tokens_bpe" -> tokenCountBpe(text),
      "punct_ratio" -> punctRatio, "stopword_ratio" -> stopRatio,
      "mean_token_len" -> meanTokLen, "quality_score" -> score)
  }

  /** The Gopher rule-set stopword list (Rae et al. §A1.1: "contains at
    * least two of the following English words"). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher/MassiveText document-quality rules (Rae et al.,
    * "Scaling Language Models: ... Gopher", arXiv:2112.11446 §A1.1) as
    * row-local columns — the standard pre-filter battery a web-scale
    * curation recipe runs before any model-based scoring. Every rule
    * is a string/array expression over the row (map-only, no UDFs, no
    * shuffle at any scale); metrics are emitted beside the per-rule
    * booleans so a curation report can tune thresholds without
    * recomputing. Symbol set is the ASCII subset ('#', '...');
    * bullet markers are '- ' / '* ' line prefixes — both confined to
    * expressions the DuckDB twin evaluates identically. */
  def gopherRuleColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokensWs(text)
    val nWords = size(toks).cast("long")
    val nonspace = length(regexp_replace(text, "[\\s]", ""))
    val meanWordLen = nonspace.cast("double") / nullif(nWords, lit(0))
    val nSymbols = regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\."))
    val symbolRatio = nSymbols.cast("double") / nullif(nWords, lit(0))
    val lines = split(text, "\n")
    val nLines = size(lines)
    val bulletFrac = size(filter(lines, l =>
        substring(l, 1, 2) === "- " || substring(l, 1, 2) === "* "))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.like("%...")))
      .cast("double") / nLines
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / nullif(nWords, lit(0))
    val nStop = stopwordCount(text, GopherStopwords).cast("long")
    val rules = Seq(
      "rule_word_count" -> nWords.between(50L, 100000L),
      "rule_mean_word_len" -> meanWordLen.between(3.0, 10.0),
      "rule_symbol_ratio" -> (symbolRatio <= 0.1),
      "rule_bullet_lines" -> (bulletFrac <= 0.9),
      "rule_ellipsis_lines" -> (ellipsisFrac <= 0.3),
      "rule_alpha_words" -> (alphaFrac >= 0.8),
      "rule_stopwords" -> (nStop >= 2L))
    Seq("n_words" -> nWords, "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio, "bullet_line_frac" -> bulletFrac,
      "ellipsis_line_frac" -> ellipsisFrac, "alpha_word_frac" -> alphaFrac,
      "n_stop_hits" -> nStop) ++ rules :+
      ("pass_gopher" -> rules.map(_._2).reduce(_ && _))
  }

  // ------------------------------------------------- fingerprinting

  /** Polynomial rolling hash of the whole document, folded per-char
    * with base 131 mod 1e9+7 — values stay < 2^37 so the fold never
    * overflows in any engine. Served by the native codegen expression
    * [[graft.functions.RollingHash]] (one allocation-free pass over
    * the UTF8 bytes); [[rollingHashHof]] keeps the pure-SQL
    * higher-order form the native expression is property-tested
    * against. */
  def rollingHash(text: Column): Column =
    graft.functions.RollingHash.rollingHashNative(text)

  /** The original higher-order-function form: split to single-char
    * strings, ascii() each, fold. Semantically the spec for
    * [[rollingHash]]; kept as the cross-check and the shape a
    * SQL-only engine would run. */
  def rollingHashHof(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(
        transform(split(text, ""), c => ascii(c).cast("long")),
        lit(0L),
        (h, c) => (h * 131L + c) % 1000000007L))

  /** Char-9-gram MinHash fingerprint: the minimum md5 over all 9-char
    * shingles — one row-local expression (transform over a position
    * sequence), no explode. Short texts fall back to md5(text). */
  def minShingleFingerprint(text: Column): Column =
    minShingleWith(text, md5)

  /** The minimum of `hash` over every 9-char shingle of `text`, or
    * `hash(text)` for a text shorter than 9: the body of both
    * min-shingle fingerprint families. */
  private def minShingleWith(text: Column, hash: Column => Column): Column =
    when(length(text) < 9, hash(text)).otherwise(
      array_min(transform(
        sequence(lit(1), length(text) - 8),
        i => hash(substring(text, i, lit(9))))))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS family): the set of window-minimum k-gram hashes (k = 9), one
    * per sliding window of w = 8 consecutive k-gram positions. Guarantees
    * every shared substring of length ≥ w+k−1 contributes at least one
    * COMMON fingerprint between two documents, at ~2/(w+1) the density
    * of full k-gram shingling — the sampling-with-recall-bound that
    * plain min-shingle ([[minShingleFingerprint]], one global min)
    * lacks. Entirely row-local: the k-gram hash array is materialized
    * FIRST (one projection — the HOF-capture discipline, see the
    * verify-skill gotcha), then window minima are a transform over
    * slices (O(len·w) per row, w is small). Set semantics make the
    * tie-break irrelevant (value-based winnowing). md5-derived 60-bit
    * hashes so the DuckDB twin is bit-identical; docs shorter than k
    * fingerprint as their whole-text hash. */
  def winnowedFingerprints(df: DataFrame): DataFrame =
    winnowedWith(df, graft.llm.Dedup.md5Long)

  /** Winnowing under the k-gram hash `hash` (k = 9, w = 8): the body
    * of both fingerprint families. */
  private def winnowedWith(df: DataFrame, hash: Column => Column): DataFrame = {
    val (k, w) = (9, 8)
    val text = col("text")
    val hashes = when(length(text) >= k,
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => hash(substring(text, i, lit(k)))))
      .otherwise(array(hash(text)))
    val hashed = df.select(col("doc_id"), hashes.as("hs"))
    val nWin = greatest(lit(1), size(col("hs")) - (w - 1))
    val mins = transform(sequence(lit(1), nWin),
      j => array_min(slice(col("hs"), j, lit(w))))
    hashed.select(col("doc_id"), explode(array_distinct(mins)).as("fp"))
  }

  /** Production twin of [[winnowedFingerprints]] on the xxhash64
    * family (one codegen'd 64-bit hash per k-gram instead of an md5
    * hex string — the [[minShingleFingerprintXx]] split): same
    * window-min sampling, different fingerprint family, DuckDB can't
    * replicate it so the md5 form stays the gated twin. Measured
    * beside the md5 form in BenchExtra. */
  def winnowedFingerprintsXx(df: DataFrame): DataFrame =
    winnowedWith(df, xxhash64(_))

  /** Production twin of [[minShingleFingerprint]] on the xxhash64
    * family: one codegen'd 64-bit hash per shingle instead of an md5
    * hex string — the value differs (it's a different fingerprint
    * function, same min-over-uniform-hash family), DuckDB can't
    * replicate it (no xxhash64), so the md5 form stays the
    * oracle-gated twin. Same row-local no-explode shape. */
  def minShingleFingerprintXx(text: Column): Column =
    minShingleWith(text, xxhash64(_))

  // --------------------------------------------------- fixture queries

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val textTokenize: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      tokenCountWs(col("text")).as("n_tokens_ws"),
      tokenCountBpe(col("text")).as("n_tokens_bpe"),
      length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  private val textLangId: Q = (s, dir) =>
    docs(s, dir).select(
      (col("doc_id") +: Stopwords.map { case (lang, words) =>
        stopwordCount(col("text"), words).as(s"score_$lang")
      }) :+ langId(col("text")).as("lang_pred"): _*)
      .orderBy("doc_id")

  private val textQuality: Q = (s, dir) => {
    val cols = qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(s, dir).select((col("doc_id") +: cols): _*).orderBy("doc_id")
  }

  private val docWinnowFingerprint: Q = (s, dir) =>
    winnowedFingerprints(docs(s, dir)).orderBy("doc_id", "fp")

  private val docFingerprint: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      rollingHash(col("text")).as("rolling_hash"),
      minShingleFingerprint(col("text")).as("min_shingle_md5"))
      .orderBy("doc_id")

  /** Mean-pooled pseudo-embedding (the RF pipeline's SQL-text encoder
    * shape, `models/RF/Model/sql_encoder.py:33-41`: token embeddings →
    * mean over tokens). Tokens come from the reference tokenizer's own
    * pre-tokenization rules ([[qwen2Pretokenize]], case-sensitive like
    * Qwen2Tokenizer); token vectors are md5-derived integers in
    * [-1000,1000], summed exactly per dimension, so the pooled doubles
    * hash-match the oracle; swap the hash lookup for a real embedding
    * table at production time — the pooling dataflow is identical. */
  private val textEmbedMeanpool: Q = (s, dir) => {
    val toks = docs(s, dir).select(col("doc_id"),
      explode(qwen2Pretokenize(col("text"))).as("token"))
    val dims = (0 until 4).map { d =>
      sum(graft.llm.Dedup.md5Long(concat(lit(s"$d:"), col("token"))) % 2001
        - 1000).as(s"s_$d")
    }
    val pooled = (0 until 4).map { d =>
      ((col(s"s_$d").cast("double") / col("n_tokens")) / 1000.0).as(s"emb_$d")
    }
    toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), dims: _*)
      .select((col("doc_id") +: col("n_tokens") +: pooled): _*)
      .orderBy("doc_id")
  }

  /** PII/secret redaction patterns: (name, regex, replacement). The
    * regexes stay inside the dialect both Java regex and RE2 share —
    * no lookahead/backreferences — so the Spark column and the DuckDB
    * twin match the same spans. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{7,15}", "<PHONE>"),
    ("key", "\\b[0-9a-f]{32}\\b", "<KEY>"))

  /** Document-level PII/secret redaction for corpus curation: count
    * then replace each [[PiiPatterns]] match. Map-only (row-local
    * regex, no shuffle at any scale). Counting contract: each
    * `n_<name>` is the pattern's match count over the RAW text,
    * independent of the other patterns — pattern families CAN overlap
    * (an RFC-valid local part like `user+12345678@ex.com` matches the
    * phone pattern inside the email match), so the per-pattern counts
    * may double-count a span, and `n_phone` may exceed the `<PHONE>`
    * markers in `redacted` (replacement runs sequentially email →
    * phone → key, and an earlier replacement consumes the span).
    * Raw-text counts are the audit number a curation report wants —
    * "what did the corpus contain" — and stay order-independent;
    * the redacted string is the sanitized artifact. */
  def redactPii(df: DataFrame): DataFrame = {
    val counted = PiiPatterns.foldLeft(df) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name", regexp_count(col("text"), lit(pat)))
    }
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
    }
    counted.withColumn("redacted", redacted)
  }

  // ------------------------------------- Luhn-validated card redaction

  /** 16-digit card-number candidates in 4-digit groups with optional
    * single space/dash separators — the Java∩RE2 shared dialect
    * (ASCII \b word boundaries, no backrefs), so Spark and DuckDB
    * extract identical candidate spans. */
  val CcCandidateRe: String =
    "\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b"

  /** Checksum-validated payment-card redaction — the PII family member
    * a pure regex cannot decide: a 16-digit run is only sensitive if
    * it Luhn-validates (ISO/IEC 7812), so counting/redacting on the
    * pattern alone would flood a curation report with order ids and
    * timestamps. Candidates come from one [[CcCandidateRe]] extract;
    * validation is Spark's codegen'd `luhn_check` over the
    * separator-stripped digits inside a row-local `filter` lambda; the
    * redaction replaces ONLY validated spans via an `aggregate` fold
    * (invalid lookalikes survive verbatim — they are data, not PII).
    * Map-only end to end: no shuffle at any corpus scale. The DuckDB
    * twin re-derives Luhn arithmetically (doubled-digit sum mod 10)
    * inside the same lambda shape, so validity is engine-checked, not
    * engine-trusted. */
  def redactCreditCards(df: DataFrame): DataFrame = {
    def digits(c: Column): Column = translate(c, " -", "")
    val cands = regexp_extract_all(col("text"), lit(CcCandidateRe), lit(0))
    val valid = filter(cands,
      c => call_function("luhn_check", digits(c)))
    df.withColumn("__cands", cands)
      .withColumn("__valid", valid)
      .withColumn("n_cc_candidates", size(col("__cands")))
      .withColumn("n_cc_valid", size(col("__valid")))
      .withColumn("redacted",
        aggregate(col("__valid"), col("text"),
          (acc, c) => call_function("replace", acc, c, lit("<CC>"))))
      .drop("__cands", "__valid")
  }

  /** Fixture with deterministically PLANTED card numbers (the
    * word-soup corpus contains no digit runs): every 6th doc gains a
    * Luhn-VALID spaced Visa test number, every 9th a one-digit-off
    * INVALID twin (must count as candidate, survive redaction), every
    * 15th a dash-separated valid Mastercard test number — built
    * identically in the oracle so the redacted strings hash-match. */
  private val textRedactCc: Q = (s, dir) => {
    val planted = docs(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" card 4111 1111 1111 1111"))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(" num 4111 1111 1111 1112"))
          .otherwise(lit("")),
        when(col("doc_id") % 15 === 0, lit(" acct 5500-0000-0000-0004"))
          .otherwise(lit(""))))
    redactCreditCards(planted)
      .select(col("doc_id"), col("n_cc_candidates"), col("n_cc_valid"),
        col("redacted"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------- per-source entropy

  /** Per-source unigram Shannon entropy — the corpus-diversity
    * data-card row beside [[sourceDivergence]] (TV distance answers
    * "how far apart are two sources"; entropy answers "how varied is
    * each source by itself" — a boilerplate-heavy crawl scores low, a
    * broad one high). H = ln N − (Σ c·ln c)/N, computed in the DSIR
    * ln-discipline: ln runs once per VOCABULARY row (never per
    * occurrence), is rounded to integer micro-nats BEFORE any row
    * math, and the weighted sum is an exact BIGINT — so the gated
    * columns are partition-order-free and the one remaining float
    * (the entropy itself) is rounded to basis points on both engines
    * (sub-ulp ln() divergence cannot flip it except ON a half-bp
    * boundary — the temperatureMix residual risk, accepted). 100 TB
    * shape: one (source, token) groupBy with map-side combine (the
    * Zipf key collapses per-partition), then a sources-sized
    * groupBy. */
  def sourceEntropy(df: DataFrame): DataFrame = {
    val counts = df.select(col("source"),
        explode(tokensWs(lower(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .withColumn("lnc_micro", round(log(col("c")) * 1e6).cast("long"))
    counts.groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("lnc_micro")).as("s_clnc"))
      .withColumn("entropy_bp",
        round((log(col("n_tokens")) -
          col("s_clnc").cast("double") / (col("n_tokens") * 1e6)) * 1e4)
          .cast("long"))
  }

  // ---------------------------------------- sentence segmentation

  /** Rule-based sentence segmentation — the primitive under
    * sentence-level filters and dedup (C4 drops lines; many quality
    * recipes work on sentences). A sentence is a maximal run of
    * non-terminator characters plus its trailing `[.!?]` run —
    * expressed as ONE `regexp_extract_all` in the Java∩RE2 shared
    * dialect (no lookbehind: RE2 has none, so the split-on-boundary
    * form is out; the extract-with-terminator form needs neither).
    * Whitespace-trimmed, empties dropped, `sent_id` in document
    * order, `n_chars` over the trimmed sentence. Row-local (one
    * extract + posexplode — sentences inherit the doc's partition; no
    * shuffle at any corpus scale). */
  val SentenceRe: String = "[^.!?]+[.!?]*"

  def splitSentences(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        posexplode(filter(
          transform(
            regexp_extract_all(col("text"), lit(SentenceRe), lit(0)),
            s => trim(s)),
          s => length(s) > 0)).as(Seq("sent_id", "sentence")))
      .select(col("doc_id"), col("sent_id"),
        length(col("sentence")).as("n_chars"), col("sentence"))

  /** Fixture with PLANTED terminators (the word-soup corpus has
    * none): three segments of each doc rejoined with '. ', '! ', '? '
    * plus an unterminated tail — built identically in the oracle. */
  private val textSentences: Q = (s, dir) => {
    val planted = docs(s, dir).withColumn("text",
      concat(substring(col("text"), 1, 50), lit(". "),
        substring(col("text"), 51, 40), lit("! "),
        substring(col("text"), 91, 30), lit("? tail no terminator")))
    splitSentences(planted).orderBy("doc_id", "sent_id")
  }

  // ------------------------------------------ vocab coverage + Zipf

  /** Out-of-vocabulary rate against the corpus's own top-`topN`
    * vocabulary — the data-card row that predicts tokenizer fertility
    * blowup and flags domain drift (a batch whose OOV rate jumps is
    * not from the training distribution). Vocabulary = top-N tokens by
    * (count DESC, token ASC) — a total order, so the cut is
    * deterministic on every engine. 100 TB shape: one token groupBy
    * (map-side combine absorbs the Zipf skew), a bounded-N sort-limit
    * (TakeOrdered — never a full sort), and the vocabulary BROADCASTS
    * back onto the occurrence stream so the skewed token key never
    * drives a shuffled join (the [[idfScore]] discipline); per-doc
    * groupBy on the unskewed id. */
  def oovRate(df: DataFrame, topN: Int = 10): DataFrame = {
    val tok = df.select(col("doc_id"),
      explode(tokensWs(lower(col("text")))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(topN)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Zipf-law exponent fit over the corpus unigram distribution — the
    * one-number "is this corpus natural-language-shaped" data-card
    * row (natural text fits ln f ≈ c − α·ln r with α ≈ 1; word soup
    * and boilerplate flatten it). OLS slope of (ln rank, ln count)
    * over the VOCABULARY-sized frame: rank by (count DESC, token ASC)
    * through [[graft.operators.Scale.rowNumberDistributed]] (range-
    * bucketed — no global sort/window), ln once per vocab row rounded
    * to integer 1e-4-nat units BEFORE any products (the DSIR ln
    * discipline), moment sums exact BIGINT (safe to ~2×10⁸ vocab
    * rows), one final double division rounded to basis points.
    * Output: (n_vocab, slope_bp) — slope_bp ≈ −10000·α. */
  def zipfSlope(df: DataFrame): DataFrame = {
    val vc = df.select(explode(tokensWs(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = graft.operators.Scale.rowNumberDistributed(
      vc, -col("n"), Seq(col("n").desc, col("token").asc), "r")
    val u = ranked.select(
      round(log(col("r").cast("double")) * 10000).cast("long").as("x"),
      round(log(col("n").cast("double")) * 10000).cast("long").as("y"))
    u.agg(count(lit(1)).as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("m").as("n_vocab"),
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
          * 10000).cast("long").as("slope_bp"))
  }

  private val textOovRate: Q = (s, dir) =>
    oovRate(docs(s, dir)).orderBy("doc_id")

  private val textZipfSlope: Q = (s, dir) =>
    zipfSlope(docs(s, dir))

  // --------------------------------------------------- HTML extraction

  /** Tag-strip patterns in the Java∩RE2 dialect ((?is) inline flags,
    * non-greedy .*?, NO backreferences — RE2 has none, so a closing
    * tag is matched by alternation, not a capture of the opener: a
    * mismatched `<script>x</style>` closes at the first member of the
    * set; well-formed markup nests these blocks properly and any
    * residue is swallowed by the any-tag pass. */
  val HtmlBlockDropRe =
    "(?is)<(?:script|style|head)[^>]*>.*?</(?:script|style|head)\\s*>"
  val HtmlCommentRe = "(?s)<!--.*?-->"
  val HtmlBlockBreakRe = "(?i)</?(?:p|div|br|li|ul|ol|tr|table|h[1-6])[^>]*>"
  val HtmlAnyTagRe = "(?s)<[^>]*>"

  /** The XML core entities + nbsp, decoded in order with `&amp;` LAST
    * (single-pass decoding: `&amp;lt;` yields the literal text `&lt;`,
    * never `<`). Decoding runs AFTER tag stripping, so a decoded `<`
    * can never open a phantom tag. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML → text extraction — the step a crawl pipeline runs before
    * any dedup/quality operator sees a document (the trafilatura role
    * in the C4/RefinedWeb recipes, reduced to its relational core):
    * drop script/style/head blocks and comments, break block-level
    * tags to newlines (paragraph structure survives for
    * [[c4LineFilter]] and paragraph dedup), strip remaining tags,
    * decode [[HtmlEntities]], collapse whitespace. One map-only
    * regexp_replace/replace chain — no shuffle at any scale; every
    * pattern in the shared Java∩RE2 dialect and every replacement
    * identical, so the DuckDB twin produces the identical string. */
  def htmlToText(html: Column): Column = {
    val noBlocks = regexp_replace(html, HtmlBlockDropRe, " ")
    val noComments = regexp_replace(noBlocks, HtmlCommentRe, " ")
    val broke = regexp_replace(noComments, HtmlBlockBreakRe, "\n")
    val noTags = regexp_replace(broke, HtmlAnyTagRe, " ")
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    val oneSpace = regexp_replace(decoded, "[ \\t\\r]+", " ")
    val oneBreak = regexp_replace(oneSpace, " ?\\n[ \\n]*", "\n")
    trim(oneBreak, " \n")
  }

  // ------------------------------------------------ C4 line filtering

  /** Phrases whose presence drops a LINE in the C4 cleaning recipe
    * (Raffel et al. 2019, §2.2 — the boilerplate/JS rules), matched on
    * the lowercased line. */
  val C4LineDropPhrases: Seq[String] = Seq(
    "javascript", "privacy policy", "terms of use", "cookie policy",
    "uses cookies")

  /** Keep-this-line predicate of [[c4LineFilter]]: terminal
    * punctuation, ≥5 words, none of [[C4LineDropPhrases]]. The word
    * class is spelled explicitly ([^ \t\r\n]+) so the Java and RE2
    * engines can never disagree the way their \S classes do on
    * \x0B. */
  private def c4KeepLine(l: Column): Column = {
    val t = trim(l)
    t.rlike("[.!?\"]$") &&
      size(regexp_extract_all(t, lit("[^ \\t\\r\\n]+"), lit(0))) >= 5 &&
      C4LineDropPhrases.map(p => !lower(t).contains(p)).reduce(_ && _)
  }

  /** C4 line-level cleaning (Raffel et al. 2019 §2.2): keep only lines
    * that end in terminal punctuation, have ≥5 words, and carry none
    * of the boilerplate/JS phrases; page-level flags (lorem ipsum,
    * curly brace — C4 drops those PAGES) and the composite pass ride
    * along. Entirely row-local: the line array and the kept array are
    * materialized in ONE projection and every consumer reads the
    * materialized columns (the HOF-capture discipline — naming
    * `filter(...)` per consumer would re-run the predicate chain per
    * reference). C4's remaining rule — cross-page three-sentence
    * dedup — is paragraph-dedup/substring-span territory
    * ([[Curation.paragraphDedup]], [[Dedup.substringSpanStats]]). */
  def c4LineFilter(df: DataFrame): DataFrame = {
    val mat = df
      .withColumn("c4_lines", split(col("text"), "\n"))
      .withColumn("c4_kept", filter(col("c4_lines"), c4KeepLine _))
    mat.select(col("doc_id"),
      size(col("c4_lines")).cast("long").as("n_lines"),
      size(col("c4_kept")).cast("long").as("n_kept"),
      (size(col("c4_kept")).cast("double") / size(col("c4_lines")))
        .as("kept_frac"),
      lower(col("text")).contains("lorem ipsum").as("has_lorem"),
      col("text").contains("{").as("has_brace"),
      (size(col("c4_kept")) >= 3 &&
        !lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{")).as("pass_c4"),
      array_join(col("c4_kept"), "\n").as("text_clean"))
  }

  // --------------------------------------------- URL / domain analysis

  /** URL pattern in the Java-regex ∩ RE2 dialect (no lookaround, like
    * [[PiiPatterns]]) so the DuckDB twin matches identical spans:
    * scheme + host + optional path. */
  val UrlPattern = "https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/-]*)?"

  /** Host-capture pattern for the domain of a matched URL. */
  val UrlHostPattern = "https?://([A-Za-z0-9.-]+)"

  /** Per-doc URL inventory: one row per URL occurrence, in occurrence
    * order, with its host. Map-only (regexp_extract_all + posexplode)
    * — no shuffle at any scale. The inventory feeds [[domainStats]]
    * (crawl-mix reporting) and [[domainFilter]] (blocklists). */
  def urlExtract(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        posexplode(regexp_extract_all(col("text"), lit(UrlPattern), lit(0)))
          .as(Seq("p", "url")))
      .select(col("doc_id"), (col("p") + 1).as("url_pos"), col("url"),
        regexp_extract(col("url"), UrlHostPattern, 1).as("domain"))

  /** Per-domain corpus report: URL occurrences and distinct docs —
    * the crawl-provenance mix a curation data card wants. One
    * domain-key groupBy (domains are far fewer than docs). */
  def domainStats(df: DataFrame): DataFrame =
    urlExtract(df)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("doc_id")).as("n_docs"))

  /** Domain-blocklist filter: drop every doc containing ANY URL whose
    * host is blocked (the C4/RefinedWeb bad-domain rule). The blocked
    * doc-id set is built with one map-only extract + distinct and
    * anti-joined back — for blocklists beyond literal-list size, swap
    * `isin` for a broadcast join against a blocklist frame; the
    * corpus side is never shuffled either way. */
  def domainFilter(df: DataFrame, blocked: Seq[String]): DataFrame = {
    val bad = urlExtract(df)
      .filter(col("domain").isin(blocked: _*))
      .select(col("doc_id")).distinct()
    df.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Corpus-statistics rarity scoring (TF-IDF family, the CCNet-style
    * "does this doc look like the corpus" quality facet, computed from
    * the corpus itself — no external LM): document frequency per
    * lowercased whitespace token (distinct docs containing it), then
    * per-doc mean inverse df over token OCCURRENCES plus the fraction
    * of occurrences whose token appears in ≤2 documents. Two-phase at
    * 100 TB: one token-key groupBy builds the vocabulary-sized df
    * frame, one token-key equi-join scores occurrences — both shuffles
    * are on the token key, no all-pairs work. 1.0/df is a single IEEE
    * division of identical ints on both engines; the mean goes through
    * [[graft.functions.Exact]] decimal sums so partitioning and engine
    * cannot reorder it. */
  def idfScore(df: DataFrame): DataFrame = {
    val tok = df.select(col("doc_id"),
      explode(tokensWs(lower(col("text")))).as("token"))
    val dfFrame = tok.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    // The df frame is vocabulary-sized (sublinear in corpus size), but
    // the token key is Zipf-skewed — a shuffled join would concentrate
    // every "the" occurrence in one reducer at 100 TB. Broadcasting df
    // keeps the occurrence side map-only: its only shuffles are the
    // token-key df aggregation (map-side partial combine absorbs the
    // skew) and the final per-doc groupBy (doc_id is unskewed).
    tok.join(broadcast(dfFrame), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (graft.functions.Exact.dsum(lit(1.0) / col("df"))
          / count(lit(1))).as("mean_inv_df"),
        (sum(when(col("df") <= 2, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("rare_frac"))
  }

  private val textIdfScore: Q = (s, dir) =>
    idfScore(docs(s, dir)).orderBy("doc_id")

  /** Within-document repetition metrics — the Gopher/MassiveText
    * repetition rules re-expressed at word granularity (the fixture
    * corpus has no line structure; the rule family is identical):
    * duplicate-word fraction, top-word share, and their bigram twins
    * (Gopher's "top n-gram fraction" signal). 100 TB shape: explode →
    * (doc, gram) count groupBy → per-doc groupBy — every shuffle is on
    * (doc_id[, gram]) which is unskewed, map-side combine absorbs
    * within-doc repeats, and no per-row work is super-linear in
    * document length (the naive array-functions form —
    * `size(filter(w, eq))` per distinct word — is O(len²) per doc and
    * melts on long documents). Docs with <2 words get 0.0 bigram
    * fractions. Every emitted fraction is one IEEE division of
    * identical integers on both engines. */
  def repetitionMetrics(df: DataFrame): DataFrame = {
    val words = df.select(col("doc_id"), tokensWs(lower(col("text"))).as("ws"))
    val wordStats = words
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max("c").as("top_word_n"))
    val bigramStats = words
      .select(col("doc_id"), explode(bigramArrFromToks(col("ws"))).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max("c").as("top_bigram_n"))
    wordStats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        ((col("n_words") - col("n_distinct_words")).cast("double")
          / col("n_words")).as("dup_word_frac"),
        (col("top_word_n").cast("double") / col("n_words"))
          .as("top_word_frac"),
        coalesce((col("n_bigrams") - col("n_distinct_bigrams"))
          .cast("double") / col("n_bigrams"), lit(0.0))
          .as("dup_bigram_frac"),
        coalesce(col("top_bigram_n").cast("double") / col("n_bigrams"),
          lit(0.0)).as("top_bigram_frac"))
  }

  private val textRepetition: Q = (s, dir) =>
    repetitionMetrics(docs(s, dir)).orderBy("doc_id")

  /** Sliding-window document chunking — the context-length prep step of
    * a training/RAG pipeline: each document becomes overlapping windows
    * of `chunkTokens` whitespace tokens advancing by `strideTokens`.
    * Entirely row-local (tokenize → start sequence → posexplode →
    * slice): no shuffle at any scale, chunks inherit the document's
    * partition. Window starts run 0, stride, … while < n_tokens, so the
    * final window may be short (kept — the tail tokens must land in
    * some chunk); documents with zero tokens produce no chunks.
    * `chunk_id` is the window ordinal, `token_start` its 0-based token
    * offset — enough to reassemble or de-overlap downstream. */
  def chunkDocs(df: DataFrame, chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0,
      s"chunkDocs: sizes must be positive, got ($chunkTokens, $strideTokens)")
    df.select(col("doc_id"), tokensWs(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1,
          lit(strideTokens))).as(Seq("chunk_id", "token_start")))
      .withColumn("chunk",
        slice(col("toks"), col("token_start") + 1, lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("token_start").cast("long").as("token_start"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  private val textChunkOverlap: Q = (s, dir) =>
    chunkDocs(docs(s, dir), 32, 24).orderBy("doc_id", "chunk_id")

  /** Row-local array of a document's word bigrams as "w1 w2" strings —
    * tokens contain no whitespace, so the joined string is an
    * injective bigram key. Empty for docs with fewer than two words.
    * Takes a PROJECTED token-array column: naming the tokenization
    * expression itself here would re-evaluate it per lambda element
    * (element_at(tokensWs(text), i) re-tokenizes the whole doc for
    * every bigram — O(len²)/doc, measured 21.5 s vs 1.8 s for
    * text_lm_score on the sf0.1 corpus; the multi-reference keeps
    * CollapseProject from re-inlining the projection). */
  private[llm] def bigramArrFromToks(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Train the MLE bigram table: (bigram, p_micro) with
    * p_micro = ⌊10⁶·c(w1,w2)/c(w1·)⌋. One map-side-combined (w1,w2)
    * count groupBy + a vocabulary-sized context aggregation — the
    * train-once half of the [[lmScore]] pipeline, run over a reference
    * corpus and reused across scoring runs (including streams). */
  def trainBigramLm(df: DataFrame): DataFrame = {
    val bgCounts = df
      .select(tokensWs(lower(col("text"))).as("toks"))
      .select(explode(bigramArrFromToks(col("toks"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("b"), " ").getItem(0))
    val ctxCounts = bgCounts.groupBy("w1").agg(sum("c12").as("c1"))
    bgCounts.join(ctxCounts, "w1")
      .select(col("b"), expr("c12 * 1000000 DIV c1").as("p_micro"))
  }

  /** Score documents against a trained `lm` frame (from
    * [[trainBigramLm]] — or any (b, p_micro) table): per-doc mean
    * bigram probability in exact BIGINT micro-units. Stateless per
    * document, so it runs unchanged inside a streaming foreachBatch
    * against a static broadcast LM — the ingest-time quality-filter
    * shape (StreamsSpec pins batch equivalence). */
  def scoreBigrams(df: DataFrame, lm: DataFrame): DataFrame = {
    val bg = df
      .select(col("doc_id"), tokensWs(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(bigramArrFromToks(col("toks"))).as("b"))
    val scored = bg.join(broadcast(lm), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("p_micro").as("sum_p_micro"))
    df.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_p_micro"), lit(0L)).as("sum_p_micro"),
        ((col("sum_p_micro").cast("double") / col("n_bigrams")) / 1e6)
          .as("lm_score"))
  }

  /** In-corpus bigram language-model scoring — the perplexity-filter
    * quality facet (CCNet scores documents with a KenLM n-gram model;
    * this operator trains the MLE bigram table from the corpus ITSELF
    * and scores each document by its mean bigram probability, so "does
    * this doc look like the corpus" needs no external model; to score
    * against a reference corpus instead, train the `lm` frame there —
    * the scoring join is identical). Probabilities stay in exact
    * integer arithmetic (p_micro = ⌊10⁶·c(w1,w2)/c(w1·)⌋, summed as
    * BIGINT) so the per-doc mean is partition-order-free and
    * hash-matches the oracle; the final score divides two exact ints
    * once. 100 TB shape: the bigram count groupBy has map-side combine
    * (the skewed "of the" key collapses per-partition); the LM frame
    * is distinct-bigrams-sized (sublinear in corpus volume) and
    * BROADCAST back onto the occurrence stream, so — like [[idfScore]]
    * — the corpus side never shuffles on a Zipf-skewed key; the final
    * per-doc groupBy is on the unskewed doc id. */
  def lmScore(df: DataFrame): DataFrame =
    scoreBigrams(df, trainBigramLm(df))

  private val textLmScore: Q = (s, dir) =>
    lmScore(docs(s, dir)).orderBy("doc_id")

  // --------------------------------------------- BPE merge induction

  /** Corpus-wide adjacent-symbol pair counts over a symbolized word
    * frequency table — ONE round of the BPE training loop. `wc` is
    * (s: array of current symbols, c: word frequency); pair counts are
    * weighted by c. The frame is vocabulary-sized (distinct words),
    * NOT corpus-sized — the standard BPE-trainer shape: corpus volume
    * is paid once in the word-count groupBy, every merge round after
    * that is sublinear. */
  def bpeSymbolPairs(wc: DataFrame): DataFrame =
    wc.select(col("c"), explode(
        when(size(col("s")) >= 2,
          transform(sequence(lit(1), size(col("s")) - 1),
            i => concat_ws(" ", element_at(col("s"), i),
              element_at(col("s"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(sum("c").as("n"))

  /** Char-symbolized word-frequency table of a corpus: one groupBy on
    * the (unskewed after map-side combine) word key. */
  def bpeWordCounts(df: DataFrame): DataFrame =
    df.select(explode(tokensWs(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(split(col("w"), "").as("s"), col("c"))

  /** Apply one BPE merge (a, b) → "ab" to a symbol array, greedy
    * left-to-right non-overlapping (the standard rule), as a row-local
    * fold: the freshly merged symbol never re-merges with the next
    * element in the same pass. */
  def applyBpeMerge(s: Column, a: String, b: String): Column =
    aggregate(s, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === a &&
          x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Encode a corpus with a trained BPE merge list — the tokenizer
    * APPLICATION step. The merge chain is applied to the VOCABULARY
    * (distinct lowercased words — the frame every BPE tokenizer
    * encodes against, sublinear in corpus volume), then encodings
    * broadcast-join back onto word occurrences, so corpus volume
    * never pays the merge-chain expression and the Zipf-skewed word
    * key never drives a shuffled join (the [[idfScore]]/[[lmScore]]
    * broadcast rule). Output: (id, n_words, n_bpe_tokens) — the
    * token-budget accounting a curation pipeline needs in tokenizer
    * units rather than whitespace units. Spec-pinned against a
    * driver-side reference encoder (no DuckDB twin: the merge list is
    * a trained artifact, not SQL-derivable; round-1 training is the
    * gated `text_bpe_top_pairs`). */
  def bpeEncode(df: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(explode(tokensWs(lower(col("text")))).as("w"))
      .distinct()
    val encoded = words
      .withColumn("s", merges.foldLeft(split(col("w"), ""): Column) {
        case (c, (a, b)) => applyBpeMerge(c, a, b)
      })
      .select(col("w"), size(col("s")).cast("long").as("n_sym"))
    df.select(col("doc_id"), explode(tokensWs(lower(col("text")))).as("w"))
      .join(broadcast(encoded), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
  }

  /** BPE vocabulary induction: the first `nMerges` merge rules of a
    * byte-pair-encoding tokenizer trained on the corpus — count
    * adjacent symbol pairs (weighted by word frequency), merge the
    * most frequent (ties to the lexicographically smallest pair, so
    * training is deterministic), repeat. The merge DECISION is one
    * collected row per round (driver-side index build, like
    * [[Similarity.trainCentroids]]); the counting and the merge
    * application stay distributed over the vocabulary-sized frame,
    * localCheckpointed per round so lineage stays flat. Returns the
    * ordered merge table — the artifact a BPE tokenizer ships. */
  def trainBpeMerges(df: DataFrame, nMerges: Int): Seq[(String, String, Long)] = {
    var wc = bpeWordCounts(df).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = graft.Collect.collectChecked(bpeSymbolPairs(wc)
        .orderBy(col("n").desc, col("pair")).limit(1), 1, "the top BPE pair")
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top.head.getString(0).split(" ", 2)
        merges += ((a, b, top.head.getLong(1)))
        wc = wc.withColumn("s", applyBpeMerge(col("s"), a, b))
          .localCheckpoint(true)
      }
      round += 1
    }
    merges.toSeq
  }

  /** Top-10 symbol pairs of merge round 1 — the oracle-gated slice of
    * the trainer (later rounds depend on the collected merge decision
    * and are spec-pinned against a driver reference instead). */
  private val textBpeTopPairs: Q = (s, dir) =>
    bpeSymbolPairs(bpeWordCounts(docs(s, dir)))
      .orderBy(col("n").desc, col("pair")).limit(10)

  // --------------------------------------------- PMI collocations

  /** Corpus-wide collocation mining (Church & Hanks 1990 pointwise
    * mutual information): PMI(w1,w2) = ln(c12·T / (c1·c2)) over
    * adjacent whitespace bigrams, count floor `minCount` (rare-pair
    * PMI is noise — the standard guard). Scale shape: the corpus is
    * paid once in two map-side-combined groupBys (bigram + unigram
    * counts); the PMI join runs on the VOCABULARY-sized frames with
    * the unigram side broadcast twice (w1, w2) — the Zipf-skewed
    * token key never drives a shuffled join (idf/lm-score
    * discipline). ln is micro-rounded once per surviving pair; the
    * inner c12·T product is a correctly-rounded double (deterministic
    * IEEE in both engines). */
  def pmiBigrams(df: DataFrame, minCount: Long = 5L): DataFrame = {
    val words = df.select(tokensWs(col("text")).as("ws"))
    val bigr = words.select(explode(
        when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("w1"),
              element_at(col("ws"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val c12 = bigr.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val uni = words.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val tot = c12.agg(sum("n12").as("t"))
    c12.filter(col("n12") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("n").as("n1"))),
        "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n").as("n2"))),
        "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_micro",
        round(log((col("n12").cast("double") * col("t")) /
          (col("n1") * col("n2"))) * lit(1e6)).cast("long"))
      .select("w1", "w2", "n12", "pmi_micro")
  }

  /** Top-15 collocations by (PMI desc, w1, w2) — a total order, so
    * the limit boundary is deterministic (BPE-top-pairs idiom: global
    * sort + limit on the post-floor vocabulary-sized frame, no
    * unpartitioned window). */
  private val textPmiBigrams: Q = (s, dir) =>
    pmiBigrams(docs(s, dir))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2")).limit(15)

  /** Most sources [[sourceDivergence]] collects to seed its pairs. */
  private val MaxSources = 1000

  /** Pairwise corpus-drift report: total-variation distance between
    * the unigram token distributions of every source pair —
    * TV(p,q) = ½·Σ_t |p(t) − q(t)|, the divergence that needs NO
    * transcendentals (a KL would pull in engine-specific log()):
    * with integer counts, Σ|c₁/N₁ − c₂/N₂| = Σ|c₁N₂ − c₂N₁|/(N₁N₂),
    * exact until one final division. Tokens present in only one source
    * are folded in WITHOUT an outer join:
    * Σ_both |c₁N₂ − c₂N₁| + (N₁ − Σ_both c₁)·N₂ + (N₂ − Σ_both c₂)·N₁
    * — so the pair pass is one INNER self-join of the
    * vocabulary×sources-sized count frame (sublinear in corpus volume;
    * the corpus is paid once in the count groupBy). At extreme N the
    * c·N products would need DECIMAL(38,0) sums; BIGINT holds to
    * N ≈ 3·10⁹ tokens per source. */
  def sourceDivergence(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = df.select(col("source"),
        explode(tokensWs(lower(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val n = c.groupBy("source").agg(sum("c").as("n"))
    // The source list is config-scale (dozens), so the pair seeding is
    // a driver-side product over collected totals — like the
    // hyperplane/centroid tables, bounded metadata, not data. Seeding
    // guarantees a row for pairs with NO shared token (TV = 1), which
    // the inner join alone would drop. The bound keeps a per-document
    // `source` column from squaring on the driver.
    val srcN = graft.Collect.collectBounded(n, MaxSources,
        "sourceDivergence: per-source totals of 'source' " +
          "(source must be a low-cardinality column)")
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val pairSeed = (for {
      (s1, n1) <- srcN; (s2, n2) <- srcN if s1 < s2
    } yield (s1, s2, n1, n2)).toSeq.toDF("s1", "s2", "n1", "n2")
    val ca = c.join(broadcast(n), "source")
    val shared = ca.as("a").join(ca.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(
        sum(abs(col("a.c") * col("b.n") - col("b.c") * col("a.n")))
          .as("both_abs"),
        sum(col("a.c")).as("c1_both"), sum(col("b.c")).as("c2_both"))
    broadcast(pairSeed).join(shared, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        (coalesce(col("both_abs"), lit(0L)) +
          (col("n1") - coalesce(col("c1_both"), lit(0L))) * col("n2") +
          (col("n2") - coalesce(col("c2_both"), lit(0L))) * col("n1"))
          .as("num"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        (lit(0.5) * col("num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("tv_distance"))
  }

  private val textSourceDivergence: Q = (s, dir) =>
    sourceDivergence(docs(s, dir)).orderBy("s1", "s2")

  // ------------------------------------------- count-min heavy hitters

  /** One-pass count-min sketch over a column plus the stream length:
    * the frequency member of the sketch trio (HLL distinct counts,
    * GK quantiles, CMS frequencies). The sketch is a mergeable
    * aggregate (map-side partials merge like any other buffer), so at
    * 100 TB this is one scan with no shuffle beyond the single merged
    * buffer. ε = 0.001, confidence 0.99, and the fixed seed 42 makes it
    * deterministic. */
  def countMinSketchOf(df: DataFrame, colName: String)
      : (org.apache.spark.util.sketch.CountMinSketch, Long) = {
    val row = df.agg(
      expr(s"count_min_sketch($colName, cast(0.001 as double), " +
        "cast(0.99 as double), 42)").as("cms"),
      count(lit(1)).as("total")).head()
    (org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0))),
      row.getLong(1))
  }

  /** Heavy-hitter report: top-20 tokens by EXACT count (the gate-able
    * side) beside the count-min estimate's error contract — CMS only
    * ever over-counts, by at most ε·N with the configured confidence —
    * as a `within_tol` boolean the oracle expects TRUE (the
    * [[graft.operators.Advanced]] sketch-gate pattern). Exact counts
    * come from one token groupBy; the sketch pass is scan-only, so the
    * two sides cost one shuffle total. */
  private val textHeavyHitters: Q = (s, dir) => {
    val tok = docs(s, dir)
      .select(explode(tokensWs(lower(col("text")))).as("token"))
    val (cms, totalN) = countMinSketchOf(tok, "token")
    val bound = math.ceil(0.001 * totalN).toLong
    val top = graft.Collect.collectChecked(tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(20), 20, "the top-20 heavy hitters")
    val rows = top.toSeq.map { r =>
      val (t, n) = (r.getString(0), r.getLong(1))
      val e = cms.estimateCount(t)
      (t, n, e >= n && e <= n + bound)
    }
    import s.implicits._
    rows.toDF("token", "n", "within_tol")
  }

  /** Fixture with deterministically PLANTED PII (the word-soup corpus
    * contains none): every 5th doc gains an email, every 7th a phone,
    * every 11th a 32-hex token (md5 of the id) — built identically in
    * the oracle so the redacted strings hash-match. */
  private val textRedactPii: Q = (s, dir) => {
    val planted = docs(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" tel +1555010"), col("doc_id"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" token "), md5(col("doc_id").cast("string"))))
          .otherwise(lit(""))))
    redactPii(planted)
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_key"),
        col("redacted"))
      .orderBy("doc_id")
  }

  /** C4-style text normalization — the canonical first rewrite of any
    * curation pipeline, BEFORE hashing/dedup (a decomposed e+U+0301
    * and the precomposed é must fingerprint alike): Unicode NFC via
    * the native [[graft.functions.NfcNormalize]] expression (ASCII
    * passes through allocation-free), control characters → space
    * (ASCII range, shared by the Java and RE2 dialects), whitespace
    * runs collapsed, ends trimmed. Map-only; the control-strip runs
    * FIRST so the later `\s+` collapse never sees a char the two
    * engines class differently (RE2's \s excludes \x0B, Java's
    * includes it). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      graft.functions.NfcNormalize.nfcNormalize(text),
      "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))

  /** Fixture with deterministically PLANTED combining marks and
    * control characters (the word-soup corpus is pure ASCII): every
    * 5th doc gains a decomposed `cafe`+U+0301, every 8th a tab/VT
    * run — built identically in the oracle (chr(769)/chr(9)/chr(11)),
    * so the normalized strings and code-point counts hash-match. */
  private val textNormalize: Q = (s, dir) => {
    val planted = docs(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 8 === 0,
          lit(" x\ty\u000bz")).otherwise(lit(""))))
    planted.select(col("doc_id"),
      normalizeText(col("text")).as("normalized"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(normalizeText(col("text"))).cast("long").as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** Fixture with deterministically PLANTED structure (the word-soup
    * corpus has no lines, digits, or symbols, so the line- and
    * symbol-rules would be degenerate on it): every 4th doc gains
    * digit words + a '###' symbol run, every 6th three bullet lines,
    * every 9th a stopword-rich line ending in an ellipsis — every rule
    * exercised in both directions; built identically in the oracle. */
  private def gopherPlanted(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" 123 456 ### 789 101112")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\n- bullet one\n- bullet two\n* bullet three"))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit("\nto be of and that trailing...")).otherwise(lit(""))))

  private val textGopherRules: Q = (s, dir) => {
    val cols = gopherRuleColumns(col("text")).map { case (n, c) => c.as(n) }
    gopherPlanted(s, dir).select((col("doc_id") +: cols): _*)
      .orderBy("doc_id")
  }

  /** Per-language tokenizer-fertility report: BPE-ish units per
    * whitespace word and chars per unit — the "how expensive is this
    * language to tokenize" data-card row that drives per-language
    * token budgets. One lang-key groupBy of integer sums (map-side
    * combine; languages are few); the two divisions happen once per
    * LANGUAGE on identical integer sums, so the doubles hash-match. */
  private val textFertility: Q = (s, dir) =>
    docs(s, dir).groupBy("lang")
      .agg(sum(tokenCountWs(col("text"))).cast("long").as("n_words"),
        sum(tokenCountBpe(col("text"))).cast("long").as("n_bpe_units"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .withColumn("fertility",
        col("n_bpe_units").cast("double") / col("n_words"))
      .withColumn("chars_per_unit",
        col("n_chars").cast("double") / col("n_bpe_units"))
      .orderBy("lang")

  /** Fixture with deterministically PLANTED markup (the word-soup
    * corpus is plain text): every doc wrapped in html/head/body/p;
    * every 3rd gains a head script whose body holds a raw `<` (the
    * DOTALL block strip must swallow it, not the any-tag pass), every
    * 5th a style block with braces, every 4th an entity-rich div,
    * every 7th a comment plus a list — built identically in the
    * oracle so the cleaned strings hash-match. */
  private def plantedHtml(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("html", concat(
      lit("<html><head><title>T</title>"),
      when(col("doc_id") % 3 === 0,
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("<style>.a { color: red; }</style>")).otherwise(lit("")),
      lit("</head><body><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 4 === 0,
        lit("<div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;v&#39;&nbsp;end</div>"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("<!-- hidden --><ul><li>item one</li><li>item two</li></ul>"))
        .otherwise(lit("")),
      lit("</body></html>")))

  private val textHtmlStrip: Q = (s, dir) =>
    plantedHtml(s, dir).select(col("doc_id"),
      htmlToText(col("html")).as("text_clean"),
      length(col("html")).cast("long").as("n_chars_raw"),
      length(htmlToText(col("html"))).cast("long").as("n_chars_clean"),
      regexp_count(col("html"), lit(HtmlAnyTagRe)).cast("long").as("n_tags"))
      .orderBy("doc_id")

  /** Fixture with deterministically PLANTED lines (the word-soup
    * corpus is a single line with no terminal punctuation): kept,
    * too-short, javascript, privacy-policy, lorem-ipsum (kept as a
    * LINE, flags the PAGE), and brace lines by doc-id modulus — every
    * rule exercised both ways; built identically in the oracle. */
  private def plantedLines(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text", concat(col("text"),
      when(col("doc_id") % 3 === 0,
        lit("\nThis planted line has enough words to stay."))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\nToo short.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\nPlease enable javascript to continue viewing this page."))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit("\nWe use cookies as described in our privacy policy."))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit("\nLorem ipsum dolor sit amet consectetur adipiscing elit."))
        .otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("\nvar f = function() { return 1; }")).otherwise(lit(""))))

  private val textC4LineFilter: Q = (s, dir) =>
    c4LineFilter(plantedLines(s, dir)).orderBy("doc_id")

  private val textEntropy: Q = (s, dir) =>
    sourceEntropy(docs(s, dir)).orderBy("source")

  /** Fixture with deterministically PLANTED URLs (the word-soup corpus
    * contains none): every 9th doc gains a site URL whose host cycles
    * over 7 domains; every 18th also gains a blocked-domain URL —
    * built identically in the oracle so spans hash-match. */
  private[llm] def plantedUrls(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 9 === 0,
          concat(lit(" see https://site"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com/p"), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 18 === 0,
          lit(" and http://blocked.example.net/x")).otherwise(lit(""))))

  private val textUrlExtract: Q = (s, dir) =>
    urlExtract(plantedUrls(s, dir)).orderBy("doc_id", "url_pos")

  private val textDomainStats: Q = (s, dir) =>
    domainStats(plantedUrls(s, dir)).orderBy("domain")

  private val curateDomainFilter: Q = (s, dir) =>
    domainFilter(plantedUrls(s, dir), Seq("blocked.example.net"))
      .select("doc_id").orderBy("doc_id")

  /** Per-language top-5 tokens by frequency — the corpus vocabulary
    * report, composed over the library's own custom physical operator:
    * token explode → one (lang, token) count groupBy → TopKPerKey
    * (bounded per-key heaps, no per-group sort; the plan the window
    * ROW_NUMBER form cannot reach). The (count desc, token asc) order
    * is total within a language, so the heap boundary is
    * deterministic and the DuckDB window twin is bit-identical. */
  private val textTopTokens: Q = (s, dir) => {
    val counts = docs(s, dir)
      .select(col("lang"), explode(tokensWs(lower(col("text")))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    graft.plans.TopKPerKey(counts, Seq("lang"),
        Seq(col("n").desc, col("token").asc), 5)
      .select(col("lang"), col("token"), col("n"))
      .orderBy("lang", "token")
  }

  /** Fixture blocklist: phrases that actually occur in the synthetic
    * corpus, including a self-overlapping one ("a a" counts twice in
    * "a a a") so the overlapping-occurrence semantics of the
    * Aho-Corasick pass are exercised, not just plain substring hits. */
  private[llm] val blocklistPhrases = Seq("slow fast", "table value", "a a")

  /** Per-doc blocklist hit count: ONE Aho-Corasick byte pass per
    * document via the native [[graft.functions.MultiPatternCount]]
    * expression (O(len), codegen, however long the phrase list);
    * overlapping occurrences counted. Map-only — the blocklist rides
    * inside the expression, no join, no shuffle. */
  private val textBlocklistHits: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
        graft.functions.MultiPatternCount.multiPatternCount(
          col("text"), blocklistPhrases).as("n_hits"))
      .orderBy("doc_id")

  /** Blocklist page filter (C4 §2.2's bad-word page drop): keep only
    * documents with ZERO blocklist hits. Same map-only scan — the
    * filter is a pushed predicate over the expression. */
  private val textBlocklistFilter: Q = (s, dir) =>
    docs(s, dir)
      .filter(graft.functions.MultiPatternCount.multiPatternCount(
        col("text"), blocklistPhrases) === 0)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    "text_blocklist_hits"  -> textBlocklistHits,
    "text_blocklist_filter" -> textBlocklistFilter,
    "text_url_extract"    -> textUrlExtract,
    "text_domain_stats"   -> textDomainStats,
    "curate_domain_filter" -> curateDomainFilter,
    "text_top_tokens"     -> textTopTokens,
    "text_chunk_overlap"  -> textChunkOverlap,
    "text_lm_score"       -> textLmScore,
    "text_bpe_top_pairs"  -> textBpeTopPairs,
    "text_pmi_bigrams"    -> textPmiBigrams,
    "text_heavy_hitters"  -> textHeavyHitters,
    "text_source_divergence" -> textSourceDivergence,
    "text_tokenize"       -> textTokenize,
    "text_langid"         -> textLangId,
    "text_quality"        -> textQuality,
    "text_idf_score"      -> textIdfScore,
    "text_repetition"     -> textRepetition,
    "text_redact_pii"     -> textRedactPii,
    "text_redact_cc"      -> textRedactCc,
    "text_oov_rate"       -> textOovRate,
    "text_sentences"      -> textSentences,
    "text_zipf_slope"     -> textZipfSlope,
    "text_gopher_rules"   -> textGopherRules,
    "text_html_strip"     -> textHtmlStrip,
    "text_c4_line_filter" -> textC4LineFilter,
    "text_entropy"        -> textEntropy,
    "text_fertility"      -> textFertility,
    "text_normalize"      -> textNormalize,
    "doc_fingerprint"     -> docFingerprint,
    "doc_winnow_fingerprint" -> docWinnowFingerprint,
    "text_embed_meanpool" -> textEmbedMeanpool,
  )

  // ------------------------------------------------------- oracle SQL

  private def sqlStopCount(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t IN ($list)))"
  }

  private val sqlTokWs =
    "len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))"
  /** DuckDB twin of [[tokenCountBpe]] — public like [[sqlQualityScore]]
    * so curation oracles can size in the same tokenizer units. */
  val sqlTokBpe =
    "len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]'))"

  /** DuckDB twin of the [[qualityColumns]] composite score — factored
    * out so curation oracles can sample on the same expression. The op
    * sequence mirrors the Spark column exactly; every division is of
    * identical ints, so the doubles hash-match. */
  def sqlQualityScore: String =
    s"""0.25 * (CASE WHEN $sqlTokWs BETWEEN 10 AND 100000
       |            THEN 1.0 ELSE 0.0 END) +
       |  0.25 * (CASE WHEN (CAST(length(regexp_replace(text, '[\\s]', '', 'g'))
       |              AS DOUBLE) / NULLIF($sqlTokWs, 0)) BETWEEN 3.0 AND 10.0
       |            THEN 1.0 ELSE 0.0 END) +
       |  0.25 * (1.0 - COALESCE(CAST(length(text)
       |            - length(regexp_replace(text, '[\\p{P}]', '', 'g'))
       |            AS DOUBLE) / NULLIF(length(text), 0), 1.0)) +
       |  0.25 * LEAST(1.0, COALESCE(CAST(${sqlStopCount(Stopwords.head._2)}
       |            AS DOUBLE) / NULLIF($sqlTokWs, 0), 0.0) * 5.0)""".stripMargin

  /** Planted-URL corpus CTE shared by the three URL keys. */
  private val urlPlantedSql =
    """planted AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 9 = 0
      |      THEN ' see https://site' || CAST(doc_id % 7 AS VARCHAR) ||
      |        '.example.com/p' || CAST(doc_id AS VARCHAR)
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 18 = 0
      |      THEN ' and http://blocked.example.net/x' ELSE '' END AS text
      |  FROM documents)""".stripMargin

  /** Oracle hit-count core: overlapping occurrences via a position
    * scan — every (doc, pattern, start) where the slice equals the
    * pattern. The 8192 position bound caps the scan at the fixture's
    * max doc length (553 chars at sf0.01) with wide margin. */
  private val blocklistHitsSql: String =
    """pats AS (SELECT * FROM (VALUES ('slow fast'), ('table value'),
      |    ('a a')) p(pat)),
      |pos AS (SELECT i FROM generate_series(1, 8192) t(i)),
      |blk_hits AS (
      |  SELECT d.doc_id, COUNT(*) AS n
      |  FROM documents d
      |  CROSS JOIN pats p
      |  JOIN pos ON pos.i + length(p.pat) - 1 <= length(d.text)
      |          AND substr(d.text, CAST(pos.i AS INT), length(p.pat))
      |                = p.pat
      |  GROUP BY d.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT doc_id, i, t[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t
        |        FROM documents),
        |       generate_series(1, 4096) s(i)
        |  WHERE i <= len(t) AND t[i] <> ''),
        |bigr AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
        |    AND b.i = a.i + 1),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bigr GROUP BY w1, w2),
        |uni AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(n12) AS BIGINT) AS t FROM c12),
        |pmi AS (
        |  SELECT c.w1, c.w2, c.n12,
        |    CAST(ROUND(LN(CAST(c.n12 AS DOUBLE) * t.t /
        |      (CAST(u1.n AS BIGINT) * u2.n)) * 1e6) AS BIGINT)
        |      AS pmi_micro
        |  FROM c12 c JOIN uni u1 ON c.w1 = u1.w
        |  JOIN uni u2 ON c.w2 = u2.w
        |  CROSS JOIN tot t
        |  WHERE c.n12 >= 5)
        |SELECT w1, w2, n12, pmi_micro FROM pmi
        |ORDER BY pmi_micro DESC, w1, w2 LIMIT 15""".stripMargin,

    "text_blocklist_hits" ->
      s"""WITH $blocklistHitsSql
         |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
         |FROM documents d LEFT JOIN blk_hits h USING(doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "text_blocklist_filter" ->
      s"""WITH $blocklistHitsSql
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN blk_hits h USING(doc_id)
         |WHERE COALESCE(h.n, 0) = 0
         |ORDER BY d.doc_id""".stripMargin,

    "doc_winnow_fingerprint" ->
      """WITH hs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 9 THEN
        |      list_transform(range(1, length(text) - 7),
        |        i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 9)),
        |          1, 15)) AS BIGINT))
        |    ELSE [CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)]
        |    END AS hs
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(1, len(hs) - 7)),
        |      j -> list_min(hs[j:j+7]))) AS fps
        |  FROM hs)
        |SELECT doc_id, unnest(fps) AS fp FROM wins
        |ORDER BY doc_id, fp""".stripMargin,

    "text_normalize" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' cafe' || chr(769) ELSE '' END ||
        |    CASE WHEN doc_id % 8 = 0
        |      THEN ' x' || chr(9) || 'y' || chr(11) || 'z'
        |      ELSE '' END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS normalized
        |  FROM planted)
        |SELECT doc_id, normalized,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(normalized) AS BIGINT) AS n_chars_norm
        |FROM norm ORDER BY doc_id""".stripMargin,

    "text_fertility" ->
      s"""SELECT lang, CAST(SUM($sqlTokWs) AS BIGINT) AS n_words,
         |  CAST(SUM($sqlTokBpe) AS BIGINT) AS n_bpe_units,
         |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         |  CAST(SUM($sqlTokBpe) AS DOUBLE) / SUM($sqlTokWs) AS fertility,
         |  CAST(SUM(length(text)) AS DOUBLE) / SUM($sqlTokBpe)
         |    AS chars_per_unit
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0
         |      THEN ' 123 456 ### 789 101112' ELSE '' END ||
         |    CASE WHEN doc_id % 6 = 0
         |      THEN chr(10) || '- bullet one' || chr(10) || '- bullet two'
         |        || chr(10) || '* bullet three' ELSE '' END ||
         |    CASE WHEN doc_id % 9 = 0
         |      THEN chr(10) || 'to be of and that trailing...'
         |      ELSE '' END AS text
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST($sqlTokWs AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '[\\s]', '', 'g')) AS DOUBLE)
         |      AS nonspace,
         |    CAST(len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |      AS n_symbols,
         |    string_split(text, chr(10)) AS lines,
         |    list_filter(string_split_regex(text, '\\s+'),
         |      t -> len(t) > 0) AS toks,
         |    CAST(${sqlStopCount(GopherStopwords)} AS BIGINT) AS n_stop_hits
         |  FROM planted),
         |m2 AS (
         |  SELECT doc_id, n_words,
         |    nonspace / NULLIF(n_words, 0) AS mean_word_len,
         |    n_symbols / NULLIF(n_words, 0) AS symbol_ratio,
         |    CAST(len(list_filter(lines, l -> substr(l, 1, 2) IN ('- ', '* ')))
         |      AS DOUBLE) / len(lines) AS bullet_line_frac,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...'))
         |      AS DOUBLE) / len(lines) AS ellipsis_line_frac,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
         |      AS DOUBLE) / NULLIF(n_words, 0) AS alpha_word_frac,
         |    n_stop_hits
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stop_hits,
         |  n_words BETWEEN 50 AND 100000 AS rule_word_count,
         |  mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
         |  symbol_ratio <= 0.1 AS rule_symbol_ratio,
         |  bullet_line_frac <= 0.9 AS rule_bullet_lines,
         |  ellipsis_line_frac <= 0.3 AS rule_ellipsis_lines,
         |  alpha_word_frac >= 0.8 AS rule_alpha_words,
         |  n_stop_hits >= 2 AS rule_stopwords,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
         |    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
         |    AND n_stop_hits >= 2 AS pass_gopher
         |FROM m2 ORDER BY doc_id""".stripMargin,

    "text_entropy" ->
      s"""WITH counts AS (
         |  SELECT source, token, COUNT(*) AS c FROM (
         |    SELECT source,
         |      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |        t -> len(t) > 0)) AS token
         |    FROM documents)
         |  GROUP BY source, token),
         |v AS (
         |  SELECT source, token, c,
         |    CAST(ROUND(ln(c) * 1e6) AS BIGINT) AS lnc_micro
         |  FROM counts),
         |s AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_distinct, CAST(SUM(c * lnc_micro) AS BIGINT) AS s_clnc
         |  FROM v GROUP BY source)
         |SELECT source, n_tokens, n_distinct, s_clnc,
         |  CAST(ROUND((ln(n_tokens) -
         |    CAST(s_clnc AS DOUBLE) / (n_tokens * 1e6)) * 1e4) AS BIGINT)
         |    AS entropy_bp
         |FROM s ORDER BY source""".stripMargin,

    "text_html_strip" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    '<html><head><title>T</title>' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '<script type="text/javascript">var x = 1 < 2;</script>'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '<style>.a { color: red; }</style>' ELSE '' END ||
        |    '</head><body><p>' || text || '</p>' ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN '<div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;v&#39;&nbsp;end</div>'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '<!-- hidden --><ul><li>item one</li><li>item two</li></ul>'
        |      ELSE '' END ||
        |    '</body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          html,
        |          '(?is)<(?:script|style|head)[^>]*>.*?</(?:script|style|head)\s*>',
        |          ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?i)</?(?:p|div|br|li|ul|ol|tr|table|h[1-6])[^>]*>',
        |          chr(10), 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '[ \t\r]+', ' ', 'g'),
        |      ' ?\n[ \n]*', chr(10), 'g'), ' ' || chr(10)) AS text_clean
        |  FROM planted)
        |SELECT doc_id, text_clean,
        |  CAST(length(html) AS BIGINT) AS n_chars_raw,
        |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean,
        |  CAST(len(regexp_extract_all(html, '(?s)<[^>]*>')) AS BIGINT)
        |    AS n_tags
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_c4_line_filter" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |      'This planted line has enough words to stay.' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
        |      'Too short.' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
        |      'Please enable javascript to continue viewing this page.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
        |      'We use cookies as described in our privacy policy.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
        |      'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
        |      'var f = function() { return 1; }' ELSE '' END AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, text,
        |    string_split(text, chr(10)) AS lines,
        |    list_filter(string_split(text, chr(10)), x ->
        |      regexp_matches(trim(x), '[.!?"]$')
        |      AND len(regexp_extract_all(trim(x), '[^ \t\r\n]+')) >= 5
        |      AND NOT contains(lower(x), 'javascript')
        |      AND NOT contains(lower(x), 'privacy policy')
        |      AND NOT contains(lower(x), 'terms of use')
        |      AND NOT contains(lower(x), 'cookie policy')
        |      AND NOT contains(lower(x), 'uses cookies')) AS kept
        |  FROM planted)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(kept) AS DOUBLE) / len(lines) AS kept_frac,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{') AS pass_c4,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS text_clean
        |FROM l ORDER BY doc_id""".stripMargin,

    "text_url_extract" ->
      s"""WITH $urlPlantedSql,
         |u AS (SELECT doc_id,
         |  regexp_extract_all(text, '$UrlPattern') AS urls FROM planted),
         |u2 AS (SELECT doc_id, urls,
         |  unnest(range(1, len(urls) + 1)) AS i FROM u)
         |SELECT doc_id, CAST(i AS INT) AS url_pos, urls[i] AS url,
         |  regexp_extract(urls[i], '$UrlHostPattern', 1) AS domain
         |FROM u2 ORDER BY doc_id, url_pos""".stripMargin,

    "text_domain_stats" ->
      s"""WITH $urlPlantedSql,
         |u AS (SELECT doc_id,
         |  unnest(regexp_extract_all(text, '$UrlPattern')) AS url
         |  FROM planted)
         |SELECT regexp_extract(url, '$UrlHostPattern', 1) AS domain,
         |  COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
         |FROM u GROUP BY 1 ORDER BY domain""".stripMargin,

    "curate_domain_filter" ->
      s"""WITH $urlPlantedSql,
         |u AS (SELECT doc_id,
         |  unnest(regexp_extract_all(text, '$UrlPattern')) AS url
         |  FROM planted)
         |SELECT doc_id FROM planted
         |WHERE doc_id NOT IN (
         |  SELECT DISTINCT doc_id FROM u
         |  WHERE regexp_extract(url, '$UrlHostPattern', 1)
         |    = 'blocked.example.net')
         |ORDER BY doc_id""".stripMargin,
    // chunk_id = token_start // stride exactly because starts are the
    // stride multiples 0, 24, 48, … (Spark reads it off posexplode's
    // position instead). DuckDB's list_slice clamps past the list end
    // like Spark's slice, so the short tail window matches.
    "text_chunk_overlap" ->
      """WITH toked AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      t -> len(t) > 0) AS toks
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, len(toks) - 1, 24)) AS token_start
        |  FROM toked WHERE len(toks) > 0)
        |SELECT doc_id,
        |  token_start // 24 AS chunk_id,
        |  CAST(token_start AS BIGINT) AS token_start,
        |  len(list_slice(toks, token_start + 1, token_start + 32))
        |    AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, token_start + 1, token_start + 32),
        |    ' ') AS chunk_text
        |FROM starts
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "text_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0) AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i + 1])) AS b
        |  FROM w WHERE len(l) >= 2),
        |bgc AS (
        |  SELECT b, COUNT(*) AS c12, string_split(b, ' ')[1] AS w1
        |  FROM bg GROUP BY b),
        |ctx AS (SELECT w1, SUM(c12) AS c1 FROM bgc GROUP BY w1),
        |lm AS (
        |  SELECT bgc.b, (bgc.c12 * 1000000) // ctx.c1 AS p_micro
        |  FROM bgc JOIN ctx ON bgc.w1 = ctx.w1),
        |scored AS (
        |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(lm.p_micro) AS BIGINT) AS sum_p_micro
        |  FROM bg JOIN lm ON bg.b = lm.b
        |  GROUP BY bg.doc_id)
        |SELECT w.doc_id,
        |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(s.sum_p_micro, 0) AS sum_p_micro,
        |  (CAST(s.sum_p_micro AS DOUBLE) / s.n_bigrams) / 1e6 AS lm_score
        |FROM w LEFT JOIN scored s ON w.doc_id = s.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "text_source_divergence" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM tok GROUP BY source, token),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |      FROM c GROUP BY source),
        |pairs AS (
        |  SELECT x.source AS s1, x.n AS n1, y.source AS s2, y.n AS n2
        |  FROM n x JOIN n y ON x.source < y.source),
        |ca AS (SELECT c.source, c.token, c.c, n.n
        |       FROM c JOIN n ON c.source = n.source),
        |shared AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(SUM(ABS(a.c * b.n - b.c * a.n)) AS BIGINT) AS both_abs,
        |    CAST(SUM(a.c) AS BIGINT) AS c1_both,
        |    CAST(SUM(b.c) AS BIGINT) AS c2_both
        |  FROM ca a JOIN ca b
        |    ON a.token = b.token AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT p.s1, p.s2, p.n1, p.n2,
        |  0.5 * CAST(COALESCE(sh.both_abs, 0)
        |      + (p.n1 - COALESCE(sh.c1_both, 0)) * p.n2
        |      + (p.n2 - COALESCE(sh.c2_both, 0)) * p.n1 AS DOUBLE)
        |    / CAST(p.n1 * p.n2 AS DOUBLE) AS tv_distance
        |FROM pairs p LEFT JOIN shared sh ON p.s1 = sh.s1 AND p.s2 = sh.s2
        |ORDER BY p.s1, p.s2""".stripMargin,

    // The sketch estimate is engine-specific; the gate carries the
    // exact top-20 counts plus the CMS over-count contract as TRUE.
    "text_heavy_hitters" ->
      """SELECT token, n, TRUE AS within_tol FROM (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS token
        |    FROM documents)
        |  GROUP BY token)
        |ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "text_bpe_top_pairs" ->
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) AS w
        |    FROM documents)
        |  GROUP BY w),
        |sym AS (SELECT string_split(w, '') AS s, c FROM wc),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, len(s) - 1),
        |    i -> s[i] || ' ' || s[i + 1])) AS pair, c
        |  FROM sym WHERE len(s) >= 2),
        |counts AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS n
        |           FROM pairs GROUP BY pair)
        |SELECT pair, n FROM counts
        |ORDER BY n DESC, pair LIMIT 10""".stripMargin,

    "text_top_tokens" ->
      s"""WITH counts AS (
         |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT lang,
         |      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |        t -> len(t) > 0)) AS token
         |    FROM documents)
         |  GROUP BY lang, token)
         |SELECT lang, token, n FROM (
         |  SELECT lang, token, n,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY n DESC, token ASC) AS rk
         |  FROM counts)
         |WHERE rk <= 5
         |ORDER BY lang, token""".stripMargin,

    "text_idf_score" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0)) AS token
         |  FROM documents),
         |dfreq AS (
         |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  ${graft.functions.Exact.sqlSum("CAST(1.0 AS DOUBLE) / d.df")} / COUNT(*) AS mean_inv_df,
         |  CAST(SUM(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS rare_frac
         |FROM tok t JOIN dfreq d ON t.token = d.token
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0)) AS w
         |  FROM documents),
         |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
         |ws AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         |    COUNT(*) AS nd, MAX(c) AS tw
         |  FROM wc GROUP BY doc_id),
         |barr AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0) AS l
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(l) - 1),
         |      i -> l[i] || ' ' || l[i + 1])) AS b
         |  FROM barr),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
         |bs AS (
         |  SELECT doc_id, SUM(c) AS n_bg, COUNT(*) AS ndb, MAX(c) AS tb
         |  FROM bc GROUP BY doc_id)
         |SELECT ws.doc_id, n_words,
         |  CAST(n_words - nd AS DOUBLE) / n_words AS dup_word_frac,
         |  CAST(tw AS DOUBLE) / n_words AS top_word_frac,
         |  COALESCE(CAST(n_bg - ndb AS DOUBLE) / n_bg, 0.0) AS dup_bigram_frac,
         |  COALESCE(CAST(tb AS DOUBLE) / n_bg, 0.0) AS top_bigram_frac
         |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
         |ORDER BY ws.doc_id""".stripMargin,

    "text_redact_pii" -> {
      val Seq((_, emailPat, emailRepl), (_, phonePat, phoneRepl),
        (_, keyPat, keyRepl)) = PiiPatterns
      s"""WITH planted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ' contact user' || doc_id || '@example.org' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' tel +1555010' || doc_id ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |      THEN ' token ' || md5(CAST(doc_id AS VARCHAR)) ELSE '' END
         |    AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailPat')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$phonePat')) AS INT) AS n_phone,
         |  CAST(len(regexp_extract_all(text, '$keyPat')) AS INT) AS n_key,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailPat', '$emailRepl', 'g'),
         |    '$phonePat', '$phoneRepl', 'g'),
         |    '$keyPat', '$keyRepl', 'g') AS redacted
         |FROM planted
         |ORDER BY doc_id""".stripMargin
    },

    "text_redact_cc" ->
      raw"""WITH planted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 6 = 0
         |      THEN ' card 4111 1111 1111 1111' ELSE '' END ||
         |    CASE WHEN doc_id % 9 = 0
         |      THEN ' num 4111 1111 1111 1112' ELSE '' END ||
         |    CASE WHEN doc_id % 15 = 0
         |      THEN ' acct 5500-0000-0000-0004' ELSE '' END
         |    AS text
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, text,
         |    regexp_extract_all(text,
         |      '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b') AS cands
         |  FROM planted),
         |f AS (
         |  SELECT doc_id, text, cands,
         |    list_filter(cands, cc ->
         |      list_sum(list_transform(generate_series(1, 16), i ->
         |        CASE WHEN i % 2 = 1
         |          THEN CAST(substr(replace(replace(cc, ' ', ''), '-', ''),
         |            17 - i, 1) AS INT)
         |          ELSE CASE WHEN 2 * CAST(substr(replace(replace(cc, ' ', ''),
         |              '-', ''), 17 - i, 1) AS INT) > 9
         |            THEN 2 * CAST(substr(replace(replace(cc, ' ', ''), '-',
         |              ''), 17 - i, 1) AS INT) - 9
         |            ELSE 2 * CAST(substr(replace(replace(cc, ' ', ''), '-',
         |              ''), 17 - i, 1) AS INT) END
         |        END)) % 10 = 0) AS valid
         |  FROM c)
         |SELECT doc_id,
         |  CAST(len(cands) AS INT) AS n_cc_candidates,
         |  CAST(len(valid) AS INT) AS n_cc_valid,
         |  list_reduce(list_prepend(text, valid),
         |    (acc, x) -> replace(acc, x, '<CC>')) AS redacted
         |FROM f ORDER BY doc_id""".stripMargin,

    "text_sentences" ->
      raw"""WITH planted AS (
         |  SELECT doc_id,
         |    substr(text, 1, 50) || '. ' || substr(text, 51, 40) || '! ' ||
         |    substr(text, 91, 30) || '? tail no terminator' AS text
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    list_filter(list_transform(
         |      regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
         |      s -> len(s) > 0) AS sents
         |  FROM planted)
         |SELECT doc_id,
         |  CAST(jj - 1 AS INT) AS sent_id,
         |  CAST(len(sents[jj]) AS INT) AS n_chars,
         |  sents[jj] AS sentence
         |FROM (SELECT doc_id, sents,
         |        unnest(generate_series(1, len(sents))) AS jj FROM e)
         |ORDER BY doc_id, sent_id""".stripMargin,

    "text_oov_rate" ->
      raw"""WITH tok AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
         |      t -> len(t) > 0)) AS token
         |  FROM documents),
         |vc AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
         |vocab AS (SELECT token FROM vc ORDER BY n DESC, token LIMIT 10)
         |SELECT t.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS oov_rate
         |FROM tok t LEFT JOIN vocab v ON t.token = v.token
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "text_zipf_slope" ->
      raw"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
         |      t -> len(t) > 0)) AS token
         |  FROM documents),
         |vc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM tok GROUP BY token),
         |rk AS (SELECT token, n,
         |         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r FROM vc),
         |u AS (SELECT
         |        CAST(ROUND(ln(CAST(r AS DOUBLE)) * 10000) AS BIGINT) AS x,
         |        CAST(ROUND(ln(CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS y
         |      FROM rk),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x*y) AS BIGINT) AS sxy,
         |        CAST(SUM(x*x) AS BIGINT) AS sxx
         |      FROM u)
         |SELECT m AS n_vocab,
         |  CAST(ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
         |    / CAST(m * sxx - sx * sx AS DOUBLE) * 10000) AS BIGINT)
         |    AS slope_bp
         |FROM s""".stripMargin,

    "text_tokenize" ->
      s"""SELECT doc_id, CAST($sqlTokWs AS INT) AS n_tokens_ws,
         |  CAST($sqlTokBpe AS INT) AS n_tokens_bpe,
         |  CAST(length(text) AS INT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val scores = Stopwords.map { case (lang, words) =>
        s"CAST(${sqlStopCount(words)} AS INT) AS score_$lang" }.mkString(",\n    ")
      s"""SELECT doc_id, score_en, score_de, score_fr, score_es,
         |  CASE WHEN score_en = 0 AND score_de = 0 AND score_fr = 0
         |         AND score_es = 0 THEN 'und'
         |    WHEN score_en >= score_de AND score_en >= score_fr
         |         AND score_en >= score_es THEN 'en'
         |    WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |    WHEN score_fr >= score_es THEN 'fr'
         |    ELSE 'es' END AS lang_pred
         |FROM (SELECT doc_id,
         |    $scores
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars,
         |  CAST($sqlTokWs AS INT) AS n_tokens_ws,
         |  CAST($sqlTokBpe AS INT) AS n_tokens_bpe,
         |  CAST(length(text) - length(regexp_replace(text, '[\\p{P}]', '', 'g'))
         |    AS DOUBLE) / NULLIF(length(text), 0) AS punct_ratio,
         |  CAST(${sqlStopCount(Stopwords.head._2)} AS DOUBLE)
         |    / NULLIF($sqlTokWs, 0) AS stopword_ratio,
         |  CAST(length(regexp_replace(text, '[\\s]', '', 'g')) AS DOUBLE)
         |    / NULLIF($sqlTokWs, 0) AS mean_token_len,
         |  $sqlQualityScore
         |    AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,

    // RE2 has no lookahead, so the oracle uses the no-lookahead
    // pattern; trim+filter makes the two token multisets identical
    // (see Qwen2PretokenReNoLookahead).
    "text_embed_meanpool" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(list_transform(
        |      regexp_extract_all(text,
        |        '(?i:''s|''t|''re|''ve|''m|''ll|''d)|[^\r\n\p{L}\p{N}]?\p{L}+|\p{N}| ?[^\s\p{L}\p{N}]+[\r\n]*|\s*[\r\n]+|\s+'),
        |      t -> trim(t, ' ' || chr(9) || chr(13) || chr(10))),
        |      t -> len(t) > 0)) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    SUM(CAST(('0x' || substr(md5('0:' || token), 1, 15)) AS BIGINT)
        |      % 2001 - 1000) AS s_0,
        |    SUM(CAST(('0x' || substr(md5('1:' || token), 1, 15)) AS BIGINT)
        |      % 2001 - 1000) AS s_1,
        |    SUM(CAST(('0x' || substr(md5('2:' || token), 1, 15)) AS BIGINT)
        |      % 2001 - 1000) AS s_2,
        |    SUM(CAST(('0x' || substr(md5('3:' || token), 1, 15)) AS BIGINT)
        |      % 2001 - 1000) AS s_3
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  (CAST(s_0 AS DOUBLE) / n_tokens) / 1000.0 AS emb_0,
        |  (CAST(s_1 AS DOUBLE) / n_tokens) / 1000.0 AS emb_1,
        |  (CAST(s_2 AS DOUBLE) / n_tokens) / 1000.0 AS emb_2,
        |  (CAST(s_3 AS DOUBLE) / n_tokens) / 1000.0 AS emb_3
        |FROM agg ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |    ELSE list_reduce(
        |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |      (h, c) -> (h * 131 + c) % 1000000007)
        |  END AS rolling_hash,
        |  CASE WHEN length(text) < 9 THEN md5(text)
        |    ELSE list_min(list_transform(range(1, length(text) - 7),
        |      i -> md5(substr(text, CAST(i AS INT), 9))))
        |  END AS min_shingle_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
