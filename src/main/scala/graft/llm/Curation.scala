package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators for large-scale training-data pipelines
  * (north-star extension, BASELINE.json — no reference twin): the
  * dataset-management layer that sits between raw documents and a
  * training run. Deterministic hash sampling and stratified
  * down-sampling, reproducible train/val/test splits, source-balanced
  * corpus mixing, token-budget sequence packing, eval-set
  * decontamination, and filter-funnel retention accounting.
  *
  * Every operator here is content/id-addressed (md5-derived buckets,
  * [[Dedup.md5Long]]) rather than `rand()`-driven, so the SAME rows are
  * selected on every engine, every run, and every cluster size — the
  * property that makes a 100 TB curation run resumable and auditable.
  * Scale shapes: sampling/splitting are map-only; mixing adds one tiny
  * per-source aggregate broadcast back; packing is a per-shard window
  * (shard = source x hash-salt, so low-cardinality sources cannot skew
  * a partition); decontamination is one row-local kernel against a
  * broadcast eval shingle set. No all-pairs work, no driver loops.
  */
object Curation {

  /** Deterministic hash bucket in [0, mod): first 60 bits of
    * md5(prefix || key) mod `mod`. DuckDB twin:
    * `CAST(('0x' || substr(md5(prefix || key), 1, 15)) AS BIGINT) % mod`. */
  def hashBucket(prefix: String, key: Column, mod: Int): Column =
    Dedup.md5Long(concat(lit(prefix), key.cast("string"))) % mod

  // ------------------------------------------------- stratified sample

  /** Keep a deterministic per-stratum percentage of rows: a document
    * survives iff its id-hash bucket (0-99) falls below its stratum's
    * rate. Map-only — the 100 TB plan is a scan with a pushed-down
    * filter; re-running with a higher rate yields a SUPERSET of the
    * previous sample (bucket ordering is stable), which is what makes
    * staged data ablations comparable. */
  def stratifiedSample(df: DataFrame, rates: Seq[(String, Int)],
      defaultRate: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate): Column) {
      case ((stratum, r), acc) => when(col("lang") === stratum, lit(r)).otherwise(acc)
    }
    df.withColumn("bucket", hashBucket("samp:", col("doc_id"), 100))
      .filter(col("bucket") < rate)
  }

  /** Quality-weighted sampling: a document's keep-probability IS its
    * [[TextAnalysis.qualityColumns]] composite score — keep iff the
    * id-hash basis-point bucket falls below round(score * 10000). High
    * quality survives at score-rate, junk at junk-rate; still fully
    * deterministic and map-only (score and hash are row-local). */
  def qualityWeightedSample(df: DataFrame): DataFrame = {
    val score = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score")
    df.withColumn("keep_bp", round(score * 10000).cast("long"))
      .filter(hashBucket("qsamp:", col("doc_id"), 10000) < col("keep_bp"))
  }

  // ----------------------------------------------------- train split

  /** Reproducible train/val/test assignment by id-hash bucket
    * (0-999): < 800 -> train, < 900 -> val, else test. A document's
    * split never changes as the corpus grows — the standard leak-proof
    * split contract. */
  def splitAssign(df: DataFrame): DataFrame =
    df.withColumn("bucket", hashBucket("split:", col("doc_id"), 1000))
      .withColumn("split",
        when(col("bucket") < 800, "train")
          .when(col("bucket") < 900, "val")
          .otherwise("test"))

  // -------------------------------------------------- balanced mixing

  /** Source-balanced corpus mix: sample each source down toward a
    * common per-source target count, i.e. rate_s = min(1, target /
    * |source_s|), selection again by id-hash fraction. One tiny
    * per-source count aggregate is broadcast back onto the scan —
    * at 100 TB the big side never shuffles. */
  def uniformMix(df: DataFrame, targetPerSource: Double): DataFrame = {
    val counts = df.groupBy("source").agg(count(lit(1)).as("src_cnt"))
    val frac = hashBucket("mix:", col("doc_id"), 10000) / lit(10000.0)
    df.join(broadcast(counts), "source")
      .filter(frac < least(lit(1.0), lit(targetPerSource) / col("src_cnt")))
  }

  /** Token-budget mixing: sample each source down toward a common
    * PER-SOURCE CONTENT budget (chars/tokens, not doc count) — the
    * contract a pretraining mix actually specifies. rate_s = min(1,
    * budget / total_size_s); selection by id-hash fraction, so the
    * budget is met IN EXPECTATION, not as a cap: the keep decision
    * hashes doc ids, never sizes, and a source dominated by a few
    * large documents can land well over (or under) the budget —
    * that variance is the price of the map-only, membership-stable
    * selection. Use [[tokenBudgetPack]] when the budget is a hard
    * ceiling. Same 100 TB shape as [[uniformMix]]: one tiny
    * per-source size aggregate broadcast back onto the scan. */
  def tokenBudgetMix(df: DataFrame, budgetChars: Double): DataFrame = {
    val sizes = df.groupBy("source")
      .agg(sum(col("n_chars")).cast("long").as("src_chars"))
    val frac = hashBucket("tbmix:", col("doc_id"), 10000) / lit(10000.0)
    df.join(broadcast(sizes), "source")
      .filter(frac < least(lit(1.0), lit(budgetChars) / col("src_chars")))
  }

  /** Size-aware token-budget CAP — the hard-ceiling twin of
    * [[tokenBudgetMix]]: within each (source, hash-shard) stream,
    * order documents by an independent id-hash (a deterministic
    * shuffle, so the surviving prefix is an unbiased sample) and keep
    * a document iff the running char offset BEFORE it is still under
    * the stream's share (budget / 4 shards) — the [[packSequences]]
    * running-offset contract applied as a cutoff. Per-source
    * surviving volume is < budget + 4 × max_doc_size, i.e. the
    * overshoot is bounded by ONE document per stream rather than
    * [[tokenBudgetMix]]'s unbounded expectation variance. The window
    * is per (source, shard) — shard-parallel at 100 TB like every
    * packer window here; membership is stable under corpus growth
    * only for the already-selected prefix (appended docs can displace
    * later hash positions — a cap is inherently order-coupled). */
  def tokenBudgetPack(df: DataFrame, budgetChars: Long): DataFrame = {
    val shards = 4
    val perShard = budgetChars / shards
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard", hashBucket("tbshard:", col("doc_id"), shards))
      .withColumn("ord", hashBucket("tbord:", col("doc_id"), 1000000))
      .withColumn("start_off", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .filter(col("start_off") < perShard)
      .drop("ord", "start_off")
  }

  /** Temperature-weighted domain mixing: sample domain s at rate
    * min(1, N * n_s^alpha / (sum_t n_t^alpha) / n_s) — alpha<1 flattens
    * the domain distribution toward uniform (rare domains upweighted),
    * alpha=1 keeps natural proportions; the standard multilingual /
    * domain-mixture sampling rule. Selection is again id-hash
    * deterministic. The rate is computed from one tiny per-domain
    * count aggregate + a 1-row total, both broadcast back onto the
    * scan — the 100 TB side never shuffles. The keep threshold is
    * rounded to integer basis points on BOTH engines so a sub-ulp
    * pow() difference between libms cannot flip a row. Residual risk
    * (accepted): if the true rate lands within an ulp of a .5
    * basis-point boundary, JVM and libm pow() could still round the
    * threshold apart — never observed across the fixture gates; if a
    * flake ever appears, precompute keep_bp on the driver from exact
    * counts and inject it as a literal map on both engines. */
  def temperatureMix(df: DataFrame, alpha: Double, totalTarget: Double): DataFrame = {
    val counts = df.groupBy("lang").agg(count(lit(1)).as("dom_cnt"))
    val z = counts.agg(sum(pow(col("dom_cnt"), alpha)).as("z"))
    val rates = counts.crossJoin(broadcast(z))
      .withColumn("keep_bp", least(lit(10000L), round(
        lit(totalTarget) * pow(col("dom_cnt"), alpha) / col("z")
          / col("dom_cnt") * 10000).cast("long")))
      .select(col("lang"), col("keep_bp"))
    df.join(broadcast(rates), "lang")
      .filter(hashBucket("tmix:", col("doc_id"), 10000) < col("keep_bp"))
  }

  // ----------------------------------------- length histogram

  /** Data-card length histogram: doc counts and char volume per
    * (source, power-of-two length bucket). The bucket is
    * floor(log2 n) computed EXACTLY as length(bin(n)) − 1 — integer
    * arithmetic only, so a boundary length like 1024 can never land in
    * different buckets on different engines the way a float log2
    * could. One (source, bucket) groupBy; the frame is
    * sources × log(max-doc-length) rows — report-sized at any corpus
    * scale, map-side combine does the volume work. */
  def lengthHistogram(df: DataFrame): DataFrame =
    df.groupBy(col("source"),
        (length(bin(col("n_chars"))) - 1).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .withColumn("bucket_lo",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(log2_bucket AS INT)) AS BIGINT)"))

  // ------------------------------- quality-threshold calibration

  /** Per-source quality-threshold calibration: the quality-score
    * cutoff that keeps the top `keepFrac` of each source's documents —
    * the number a rate-targeted quality filter needs BEFORE it can be
    * written as a map-only pushed-down predicate. The exact cutoff
    * (the (1−keepFrac)-quantile, rank-selected so ties cannot make it
    * engine-dependent: the value at a rank is determined by the sorted
    * multiset alone) is the oracle-gated twin; the percentile_approx
    * sketch — one mergeable pass, the 100 TB path where the exact
    * window must sort each source's full extent — is asserted inside a
    * ±4-rank value band ([[graft.operators.Advanced]]'s
    * agg_approx_quantile discipline). */
  def qualityThreshold(df: DataFrame, keepFrac: Double = 0.2): DataFrame = {
    val q = 1.0 - keepFrac
    val score = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score")
    val ranked = df.select(col("source").as("src"), score.as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy("v")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("src")))
    val target = ceil(col("n") * q).cast("long")
    ranked.groupBy("src")
      .agg(max("n").as("n_docs"),
        max(when(col("rn") === target, col("v"))).as("exact_cutoff"),
        max(when(col("rn") === greatest(lit(1L), target - 4), col("v")))
          .as("lo"),
        max(when(col("rn") === least(col("n"), target + 4), col("v")))
          .as("hi"),
        percentile_approx(col("v"), lit(q), lit(10000)).as("approx"))
      .select(col("src").as("source"), col("n_docs"), col("exact_cutoff"),
        (col("approx") >= col("lo") && col("approx") <= col("hi"))
          .as("cutoff_within_tol"))
  }

  // ----------------------------------- CCNet perplexity bucketing

  /** CCNet-style perplexity bucketing (Wenzek et al., arXiv:1911.00359
    * §4.3): split the corpus into head / middle / tail tertiles by
    * language-model score, the partition CCNet publishes per language
    * so consumers can train on "head+middle" or sample tail at a lower
    * rate. The LM is the in-corpus bigram model
    * ([[TextAnalysis.lmScore]] — to bucket against a reference corpus,
    * train the table there); a document's key is its exact integer
    * mean bigram probability `score_micro = sum_p_micro DIV n_bigrams`
    * (higher = more corpus-like = head; CCNet's "low perplexity").
    *
    * Exact tertiles WITHOUT a corpus-sized global sort: score_micro
    * lives in [0, 10⁶], so the value-count frame `(score_micro, c)`
    * is bounded by the unit range — corpus-INDEPENDENT — and its
    * cumulative fold runs on the DRIVER over one bounded collect
    * (≤ 1e6 + 1 rows by construction; the same bounded-collect
    * discipline as the retrieval probes' query vocabulary).
    * Thresholds are rank-selected values — t_k = min score whose
    * cumulative count reaches ⌈k·n/3⌉, computed in integer arithmetic
    * `(k·n + 2) DIV 3` — so ties cannot make the cut
    * engine-dependent, and bucket assignment is one map-only
    * comparison against the broadcast one-row threshold frame.
    * (r10: the fold WAS [[graft.operators.Scale.prefixSumsDistributed]]
    * + a distributed rank-select; correct, but it cost three extra
    * driver actions — emptiness probe, axis max, bucket partials —
    * EACH re-running the whole LM-scoring DAG upstream of the bounded
    * frame, and left a duplicate of that DAG under the final plan's
    * threshold subtree: 8 scans of `documents` per run where the
    * rewritten form pays 4 in the scoring arm only. Same integer
    * arithmetic, bit-identical thresholds.)
    * Documents with no bigrams (< 2 words) cannot be assessed and are
    * bucketed 'tail'. */
  def perplexityBuckets(df: DataFrame): DataFrame = {
    val scored = withScoreMicro(TextAnalysis.lmScore(df))
    assignPerplexityBuckets(scored, perplexityThresholds(scored))
  }

  /** Exact integer per-doc LM score key (null when unassessable). */
  private def withScoreMicro(scored: DataFrame): DataFrame =
    scored.withColumn("score_micro",
      when(col("n_bigrams") > 0,
        org.apache.spark.sql.functions.expr("sum_p_micro DIV n_bigrams")))

  /** One-row (t1, t2) tertile-threshold frame over a scored corpus.
    * See [[perplexityBuckets]] for the corpus-independent shape. */
  def perplexityThresholds(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    // ONE action over the scoring DAG: the value-count frame is bounded
    // by the [0, 1e6] score range (≤ 1e6 + 1 rows — corpus-independent
    // by construction), so it is collected once and folded driver-side
    // in exact Long arithmetic. The degenerate (nothing assessable)
    // corpus falls out naturally as an empty collect → null thresholds.
    // score_micro is cast to long IN the grouping projection (the old
    // Spark-SQL rank-select coerced numeric types; a caller passing an
    // int-typed score column must not hit getLong ClassCastException —
    // r10 ADVICE), and the collect is capped at 1e6+2 rows so a frame
    // violating the [0, 1e6] contract fails the require below instead
    // of collecting corpus-cardinality rows onto the driver.
    val vc = graft.Collect.collectBounded(
      scored.filter(col("score_micro").isNotNull)
        .groupBy(col("score_micro").cast("long").as("score_micro"))
        .agg(count(lit(1)).as("c"))
        .orderBy("score_micro"),
      1000001, "perplexityThresholds: score_micro violates the [0, 1e6] " +
        "integer contract (scale scores into it)")
    if (vc.isEmpty)
      spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS t1, CAST(NULL AS BIGINT) AS t2")
    else {
      val n = vc.iterator.map(_.getLong(1)).sum
      // min score whose INCLUSIVE cumulative count reaches the target
      // rank — identical to the former distributed rank-select
      def rankValue(target: Long): Long = {
        var cum = 0L
        var i = 0
        while (i < vc.length && cum + vc(i).getLong(1) < target) {
          cum += vc(i).getLong(1); i += 1
        }
        vc(math.min(i, vc.length - 1)).getLong(0)
      }
      val t1 = rankValue((n + 2) / 3)
      val t2 = rankValue((2 * n + 2) / 3)
      import spark.implicits._
      Seq((t1, t2)).toDF("t1", "t2")
    }
  }

  /** Map-only bucket assignment against a broadcast threshold frame. */
  private def assignPerplexityBuckets(scored: DataFrame, th: DataFrame): DataFrame =
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_bigrams"), col("score_micro"),
        when(col("score_micro").isNull, lit("tail"))
          .when(col("score_micro") <= col("t1"), lit("tail"))
          .when(col("score_micro") <= col("t2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))

  // --------------------------- hashed-ngram importance resampling

  /** DSIR-style hashed n-gram importance weighting (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every document by how much more likely
    * its hashed word-bigram features are under the TARGET distribution
    * (a small trusted/high-quality subset, `isTarget`) than under the
    * RAW rest of the corpus — the bag-of-hashed-ngrams importance
    * weight log w(x) = Σ_grams [log p_target(b) − log p_raw(b)], the
    * learned-free data-selection stage between heuristic rules and a
    * trained classifier.
    *
    * Relational shape at 100 TB: one map-only bigram explode + md5
    * bucket ([[hashBucket]], engine-portable); ONE bucket-key groupBy
    * computes target and raw counts as conditional sums (the bucket
    * frame has [[DsirBuckets]] rows — fixed and tiny); per-bucket Laplace
    * (+1)-smoothed log-ratios are rounded to integer 1e-4-nat units
    * and BROADCAST back onto the occurrence stream — the Zipf-skewed
    * gram key never drives a shuffled join (the [[TextAnalysis.idfScore]]
    * discipline) and the per-doc score is an exact BIGINT sum,
    * partition-order-free and engine-identical. The only float step,
    * ln() on ratios of small integers, runs once per BUCKET and is
    * rounded before any per-row math (the [[temperatureMix]]
    * basis-point discipline; sub-ulp libm divergence could flip a
    * bucket's last unit only if the product lands within an ulp of a
    * .5 boundary — residual risk confined to the tiny bucket table).
    *
    * Output: (id, n_grams, logw_u, selected) — logw_u in 1e-4-nat
    * units, selected = logw_u > 0 (more target-like than raw-like).
    * Docs with < 2 words have no bigrams: n_grams 0, logw_u 0, not
    * selected. */
  def importanceResample(df: DataFrame, isTarget: Column): DataFrame =
    scoreImportance(df, importanceTable(df, isTarget))

  /** The hashed-bigram feature space of [[importanceResample]]. */
  private val DsirBuckets = 256

  /** Lowercased word-bigram occurrences of `df` hashed into
    * [[DsirBuckets]] buckets — the shared feature extraction of
    * [[importanceTable]] (training) and [[scoreImportance]] (scoring).
    * Map-only. */
  private def dsirOccurrences(df: DataFrame, extra: Seq[Column]): DataFrame = {
    // Materialize the token array BEFORE the bigram transform: with the
    // tokenizer inlined into the lambda, element_at(tokens, i) re-runs
    // the whole split per BIGRAM — O(len²) per doc, the exact
    // re-collapsed-projection class the r4 decontamination fix and the
    // r5 bigram-LM fix removed (measured here: 21 s → 1.3 s at sf0.1).
    val toked = df.select(extra :+
      TextAnalysis.tokensWs(lower(col("text"))).as("__toks"): _*)
    val carried = toked.columns.filter(_ != "__toks").map(col).toSeq
    toked.select(carried :+
      explode(TextAnalysis.bigramArrFromToks(col("__toks"))).as("gram"): _*)
      .withColumn("bucket", hashBucket("dsir:", col("gram"), DsirBuckets))
  }

  /** The TRAINING half of [[importanceResample]]: the per-bucket
    * log-ratio table (bucket, lr_u) from one pass over a labeled
    * corpus. Build it once on the reference corpus, persist/broadcast
    * it, then [[scoreImportance]] scores any frame — including an
    * ingest STREAM per micro-batch (each doc's score depends only on
    * its own bigrams and the static table, so per-batch equals batch;
    * the [[TextAnalysis.scoreBigrams]] production shape). */
  def importanceTable(df: DataFrame, isTarget: Column): DataFrame = {
    val buckets = DsirBuckets
    val occ = dsirOccurrences(df, Seq(isTarget.as("is_target")))
    val counts = occ.groupBy("bucket").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))
    val totals = occ.agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("nt"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("nr"))
    counts.crossJoin(broadcast(totals))
      .withColumn("lr_u", round(
        (log((col("ct") + 1).cast("double") / (col("nt") + buckets))
          - log((col("cr") + 1).cast("double") / (col("nr") + buckets)))
          * 10000).cast("long"))
      .select("bucket", "lr_u")
  }

  /** The SCORING half of [[importanceResample]]: per-doc importance
    * weight of `df` against a static [[importanceTable]]. One map-only
    * bigram explode, one broadcast bucket join, one per-doc BIGINT
    * sum; buckets absent from the table (possible when scoring a NEW
    * corpus against a previously trained table) contribute 0. */
  def scoreImportance(df: DataFrame, lr: DataFrame): DataFrame = {
    val occ = dsirOccurrences(df, Seq(col("doc_id")))
    val scored = occ.join(broadcast(lr), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("lr_u"), lit(0L))).as("logw_u"))
    df.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("logw_u"), lit(0L)).as("logw_u"))
      .withColumn("selected", col("logw_u") > 0)
  }

  // ------------------------------------------------ epoch upsampling

  /** Deterministic epoch upsampling (repetition): each source is seen
    * `weightPermille/1000` times per corpus pass — a doc is replicated
    * floor(w) times, plus once more iff its id-hash permille bucket
    * falls below frac(w). Weights are INTEGER permille so the
    * fractional-epoch selection is exact integer arithmetic on both
    * engines. Output carries an `epoch` index (0-based) per copy; the
    * explode is row-local (map-only at 100 TB), and re-running with a
    * higher weight extends each doc's epoch range monotonically. */
  def epochUpsample(df: DataFrame, weightsPermille: Seq[(String, Int)],
      defaultPermille: Int = 1000): DataFrame = {
    val w = weightsPermille.foldRight(lit(defaultPermille): Column) {
      case ((src, p), acc) => when(col("source") === src, lit(p)).otherwise(acc)
    }
    df.withColumn("w_pm", w)
      .withColumn("n_copies",
        (col("w_pm") / 1000).cast("long") +
          when(hashBucket("epoch:", col("doc_id"), 1000) < col("w_pm") % 1000, 1L)
            .otherwise(0L))
      .filter(col("n_copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("n_copies") - 1)))
      .drop("w_pm", "n_copies")
  }

  // ------------------------------------------------ sequence packing

  /** Offset-contiguous sequence packing: within each (source, shard)
    * stream, order documents by id, take the running size offset, and
    * assign each document to sequence floor(start_offset / budget) —
    * the contract a sequential context-window packer applies, computed
    * as one partitioned window (no driver loop). Four id-hash shards
    * salt the window partition key so a 100 TB corpus with a handful
    * of sources still spreads across the cluster; packing order stays
    * deterministic WITHIN a shard, which is the real-world contract
    * (each packer worker consumes one shard's stream). */
  def packSequences(df: DataFrame, budgetChars: Long,
      sizeCol: String = "n_chars"): DataFrame = {
    val sharded = df.withColumn("shard", hashBucket("shard:", col("doc_id"), 4))
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("start_off", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("seq_id",
        floor(col("start_off") / lit(budgetChars.toDouble)).cast("long"))
  }

  // ------------------------------------------- training-order shuffle

  /** Deterministic corpus shuffle + shard assignment for training
    * order: shard = id-hash bucket, position within shard = rank by a
    * SECOND independent id-hash (doc_id tie-break) — a reproducible
    * pseudo-random permutation that needs no global sort. Each shard's
    * window sorts only its own slice (shard-parallel at 100 TB; the
    * data-loader contract is "reader w consumes shard w in pos
    * order"), and re-running on a grown corpus leaves the relative
    * order of surviving rows unchanged within a shard. */
  def shuffleShard(df: DataFrame, nShards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("sort_key"), col("doc_id"))
    df.withColumn("shard", hashBucket("shuf:", col("doc_id"), nShards))
      .withColumn("sort_key", hashBucket("ord:", col("doc_id"), 1000000))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("sort_key")
  }

  /** Curriculum training order (Bengio et al., "Curriculum Learning",
    * ICML 2009, as production pipelines apply it): within each shard,
    * cleaner documents come FIRST — position = rank by (descending
    * [[TextAnalysis.qualityColumns]] composite in basis points,
    * id-hash, id), so a data loader draining shards in parallel feeds
    * easy/clean examples early and noisy ones late. Same scale shape
    * as [[shuffleShard]]: shard = id-hash bucket, the rank window is
    * per-shard (never global), every key content/id-addressed — the
    * ordering is reproducible on any engine and cluster size. The
    * id-hash tiebreak keeps equal-quality runs shuffled rather than
    * id-ordered (curriculum between strata, randomness within). */
  def curriculumOrder(df: DataFrame, nShards: Int): DataFrame = {
    val qualityBp = round(TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score") * 10000).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ease").desc, col("tie"), col("doc_id"))
    df.withColumn("shard", hashBucket("curr:", col("doc_id"), nShards))
      .withColumn("ease", qualityBp)
      .withColumn("tie", hashBucket("ctie:", col("doc_id"), 1000000))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("tie")
  }

  /** Per-shard export manifest — the data-versioning artifact written
    * beside a sharded corpus export ([[shuffleShard]] orders it, this
    * certifies it): doc/char counts plus an order-free content
    * checksum (bit_xor of the 60-bit content hashes — XOR commutes,
    * so the checksum is partition- and order-independent, never
    * overflows, and any single changed/missing/extra doc flips it).
    * A reader (or the next export) validates shard identity against
    * the manifest without re-reading text; [[corpusDiff]] answers
    * WHICH docs changed, the manifest answers WHETHER a shard did —
    * at 100 TB you check the manifest's ~thousand rows before diffing
    * billions. One shard-key groupBy, unskewed by construction
    * (shards are id-hash buckets), map-side combining. */
  def shardManifest(df: DataFrame, nShards: Int): DataFrame =
    df.select(hashBucket("shuf:", col("doc_id"), nShards).as("shard"),
        length(col("text")).cast("long").as("len"),
        Dedup.md5Long(col("text")).as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"),
        expr("bit_xor(h)").as("content_checksum"))

  // ------------------------------------------------- decontamination

  /** Eval-set decontamination: flag training documents sharing at
    * least `minShared` distinct char-9-gram shingles with ANY eval
    * document. The eval side of a decontamination run is benchmark-
    * sized (thousands of docs, not billions), so its distinct shingle
    * set is built on the driver (one bounded collect of the eval
    * texts) and broadcast once; each training row then counts its
    * shared and distinct shingles in the native row-local [[graft.functions.ShingleOverlap]] kernel — no
    * explode, no join, no shuffle: the only scalable shape for 100 TB
    * x eval-set checks. Returns (doc_id, n_shared, n_shingles,
    * overlap_frac, contaminated) for every training row with at least
    * one shared shingle. The absolute `minShared` count catches short
    * verbatim quotes; the `minFrac` share-of-own-shingles ratio is the
    * near-copy contract that stays meaningful when organic shingle
    * overlap is high (both must hold; pass minShared=1 for a pure-ratio
    * gate or minFrac=0.0 for a pure-count gate). The count gate is
    * clamped to the doc's own distinct-shingle count — a sub-shingle-
    * size doc collapses to ONE whole-text shingle, and an uncapped
    * minShared=10 could never flag even a verbatim copy of such a short
    * eval doc. Training `doc_id`s are unique (one row per document).
    *
    * An eval set too large to hold on the driver (a many-benchmark
    * union, or decontaminating against another corpus slice: more than
    * [[EvalMaxDocs]] texts or [[EvalMaxShingles]] distinct shingles)
    * takes the join path instead, chosen here from the collected size:
    * the shingles are exploded on both sides and probed with a
    * SHUFFLE_HASH equi-join on the shingle key — both sides shuffle
    * once, the (distinct, smaller) eval side builds the hash table, and
    * no executor ever materializes the whole eval shingle set. Same
    * rows, cross-checked in CurationSpec and ShingleOverlapPropSpec. */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      minShared: Int = 10, minFrac: Double = 0.0): DataFrame =
    gated(overlapCounts(train, evalSet, EvalMaxDocs, EvalMaxShingles),
      minShared, minFrac)

  /** [[decontaminate]] through the join path whatever the eval set's
    * size — the reference the kernel path is checked against. */
  private[graft] def decontaminateByJoin(train: DataFrame, evalSet: DataFrame,
      minShared: Int = 10, minFrac: Double = 0.0): DataFrame =
    gated(joinCounts(train, evalSet), minShared, minFrac)

  /** The most eval texts [[decontaminate]] collects to the driver
    * (about 400 bytes of heap per 300-character text), and the most
    * distinct eval shingles it holds there and broadcasts (about 60
    * bytes of heap each in the set plus 37 in the serialized
    * broadcast: ~190 MB at the bound). Measured: BASELINE.md,
    * "Decontamination's driver bound". A larger eval set takes the
    * join path. */
  val EvalMaxDocs: Int = 100000
  val EvalMaxShingles: Int = 2000000

  /** (id, n_shared, n_shingles) per training row: the
    * [[graft.functions.ShingleOverlap]] kernel against the broadcast
    * eval shingles while the eval set is inside both bounds (every
    * row, null counts for a null text), else [[joinCounts]]. */
  private[graft] def overlapCounts(train: DataFrame, evalSet: DataFrame,
      maxDocs: Int, maxShingles: Int): DataFrame = {
    val evalShingles =
      graft.Collect.collectAtMost(evalSet.select(col("text")), maxDocs)
      .flatMap(texts => graft.functions.ShingleSet.of(
        texts.iterator.map(_.getString(0)), 9, maxShingles))
    evalShingles match {
      case Some(set) =>
        val bc = evalSet.sparkSession.sparkContext.broadcast(set)
        train.select(col("doc_id"),
            graft.functions.ShingleOverlap.shingleOverlap(col("text"), bc, 9).as("ov"))
          .select(col("doc_id"), col("ov.n_shared").as("n_shared"),
            col("ov.n_shingles").as("n_shingles"))
      case None => joinCounts(train, evalSet)
    }
  }

  /** (id, n_shared, n_shingles) per training row with a non-null text,
    * by ONE explode + ONE groupBy: left-join the (distinct) shingle
    * rows against the eval set with a hit marker, then count all rows
    * (= the doc's distinct-shingle count, since shingleSetCol is
    * array_distinct) and non-null hits in the same aggregate. A
    * size(shingleSetCol) companion column would be re-collapsed by
    * Catalyst into the post-explode projection and rebuild the whole
    * array PER SHINGLE ROW — O(shingles²) per doc (measured 70 s on
    * 500 fixture docs before this shape). */
  private def joinCounts(train: DataFrame, evalSet: DataFrame): DataFrame = {
    val trainSh = train.select(col("doc_id"),
      explode(Dedup.shingleSetCol(col("text"))).as("shingle"))
    val evalSh = evalSet
      .select(explode(Dedup.shingleSetCol(col("text"))).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1))
    trainSh.join(evalSh.hint("shuffle_hash"), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_shared"),
        count(lit(1)).as("n_shingles"))
  }

  /** [[decontaminate]]'s output from overlap counts. */
  private def gated(counts: DataFrame, minShared: Int,
      minFrac: Double): DataFrame =
    counts.filter(col("n_shared") > 0)
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles"))
      .withColumn("contaminated",
        contaminated(col("n_shared"), col("n_shingles"), minShared, minFrac))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        col("overlap_frac"), col("contaminated"))

  /** The contamination gate on a row's shared and distinct shingle
    * counts (see [[decontaminate]]). */
  private def contaminated(nShared: Column, nShingles: Column,
      minShared: Int, minFrac: Double): Column =
    nShared >= least(lit(minShared), nShingles) &&
      nShared.cast("double") / nShingles >= minFrac

  /** Corpus-wide paragraph-level deduplication — the CCNet/C4-lineage
    * boilerplate killer: split every document on newlines, keep only the
    * FIRST corpus-wide occurrence of each distinct paragraph (ordered
    * by (doc_id, position)), and reassemble each document from its
    * surviving paragraphs in original order. Shared headers, footers,
    * and licence blocks survive exactly once, in the lowest-id doc
    * that carries them. 100 TB shape: one posexplode, ONE groupBy on
    * the paragraph md5 (fixed-width shuffle key, never the paragraph
    * text) electing min(struct(doc, pos)) with map-side combine, one
    * (doc, pos) semi-join back, one per-doc reassembly groupBy whose
    * collect_list is bounded by paragraphs-per-document — every
    * shuffle equi-keyed, no all-pairs work, no windows over raw rows.
    * Docs whose every paragraph is a repeat vanish (their content
    * survives elsewhere). */
  def paragraphDedup(df: DataFrame): DataFrame = {
    val sep = "\n"
    val paras = df.select(col("doc_id").as("pd_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    val keeper = paras
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col("pd_id"), col("pos"))).as("k"))
      .select(col("k.pd_id").as("pd_id"), col("k.pos").as("pos"))
    paras.join(keeper, Seq("pd_id", "pos"), "left_semi")
      .groupBy(col("pd_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("text"))
      .select(col("pd_id").as("doc_id"), col("text"))
  }

  /** The whole curation recipe as ONE composed dataflow — the shape a
    * production pretraining pipeline runs end-to-end (quality filter →
    * exact dedup keep-min-id → eval-holdout removal → decontamination
    * drop → split assignment → training-order shuffle), every stage
    * the library operator it composes. The plan is linear: the quality
    * filter and the dedup window (min doc_id per content hash, one
    * exchange on the hash) run once, and the contamination drop is a
    * row-local filter on the [[decontaminate]] kernel's counts against
    * the broadcast eval shingles — no explode, no self-join, no
    * anti-join (an eval set past decontaminate's driver bounds filters
    * on its join path's counts instead). The recipe: quality ≥ 0.5,
    * every 41st doc_id held out as the eval set, and a doc contaminated
    * at ≥ 10 shared shingles covering ≥ 80% of its own. `doc_id` is
    * unique. Returns the surviving training corpus with
    * (split, shard, pos). */
  def pipelineE2e(df: DataFrame): DataFrame = {
    val (evalModulus, minQuality, minShared, minFrac) = (41, 0.5, 10, 0.8)
    val base = df.select(col("doc_id"), col("text"))
    val score = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score")
    // exact dedup: keep the smallest doc_id per content hash
    val train = base.filter(score >= minQuality)
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep_id"))
      // eval holdout leaves the training side entirely
      .filter(col("doc_id") % evalModulus =!= 0)
    val evalSet = base.filter(col("doc_id") % evalModulus === 0)
    // the quality filter already dropped null texts, so both count
    // paths give one row per training document
    val clean = overlapCounts(train, evalSet, EvalMaxDocs, EvalMaxShingles)
      .filter(!coalesce(col("n_shared") > 0 && contaminated(
        col("n_shared"), col("n_shingles"), minShared, minFrac), lit(false)))
      .select("doc_id")
    shuffleShard(splitAssign(clean).drop("bucket"), nShards = 8)
      .select(col("doc_id"), col("split"), col("shard"), col("pos"))
  }

  // ------------------------------------------------------ filter funnel

  /** Conjunctive quality-filter funnel with per-stage retention
    * accounting: one pass, one tiny aggregate — stage predicates are
    * evaluated as conditional sums, then unpivoted into one row per
    * stage (stage_idx, stage, rows_in, rows_out, retention). The
    * audit artifact every production filtering pipeline emits. */
  def filterFunnel(df: DataFrame): DataFrame = {
    val text = col("text")
    val tokens = TextAnalysis.tokenCountWs(text)
    val punctRatio = (length(text) -
      length(regexp_replace(text, "[\\p{P}]", ""))).cast("double") /
      nullif(length(text), lit(0))
    val p1 = col("n_chars") >= 100
    val p2 = p1 && tokens.between(5, 5000)
    val p3 = p2 && (punctRatio <= 0.10)
    df.agg(
      count(lit(1)).as("total"),
      sum(when(p1, 1).otherwise(0)).as("c1"),
      sum(when(p2, 1).otherwise(0)).as("c2"),
      sum(when(p3, 1).otherwise(0)).as("c3"))
      .select(expr(
        """stack(3,
          |  1, 'min_chars',   total, c1,
          |  2, 'token_band',  c1,    c2,
          |  3, 'punct_ratio', c2,    c3) AS (stage_idx, stage, rows_in, rows_out)""".stripMargin))
      .withColumn("retention",
        col("rows_out").cast("double") / nullif(col("rows_in"), lit(0L)))
  }

  // --------------------------------------------------- fixture queries

  /** Deterministic corpus-level negative sampling for contrastive
    * training (the DPR/contrastive-pretraining data prep step: every
    * anchor document needs k "random other" documents as negatives):
    * negatives are selected by dense RANK, not by id value — ids may
    * be sparse/clustered, ranks are uniform by construction — with the
    * rank drawn from the id hash (md5(anchor:t) mod N), so the same
    * anchor always gets the same negatives on any engine or cluster
    * size (the content/id-addressed selection rule used throughout
    * this file; never `rand()`). Dataflow: one distributed dense-rank
    * pass ([[graft.operators.Scale.rowNumberDistributed]] — range-
    * bucketed windows + a tiny offsets frame, bit-identical to the
    * global window, no single-partition sort), a row-local explode of
    * k draws, and ONE equi-join back on the unskewed rank key (md5
    * draws are uniform over ranks, so the join cannot hot-spot). A
    * draw that lands on the anchor itself is dropped (deterministic;
    * an anchor then carries k−1 negatives) rather than re-drawn —
    * re-draw chains are order-coupled and engine-divergent. N is
    * config-scale driver metadata (like the rank pass's own bucket
    * bounds). */
  def negativePairs(df: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"negativePairs: k must be positive, got $k")
    val ranked = graft.operators.Scale.rowNumberDistributed(
      df.select(col("doc_id")), col("doc_id"), Seq(col("doc_id")), "rk")
    val n = ranked.count()
    val cand = ranked
      .select(col("doc_id").as("anchor_id"), col("rk"),
        explode(sequence(lit(1), lit(k))).as("t"))
      .withColumn("neg_rk",
        Dedup.md5Long(concat(col("anchor_id").cast("string"), lit(":"),
          col("t").cast("string"))) % n + 1)
      .filter(col("neg_rk") =!= col("rk"))
    cand.join(ranked.select(col("rk").as("neg_rk"), col("doc_id").as("neg_id")),
        "neg_rk")
      .select(col("anchor_id"), col("t").cast("long").as("t"), col("neg_id"))
  }

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Fixture stratum rates (percent kept per language). */
  val FixtureRates: Seq[(String, Int)] =
    Seq("en" -> 80, "de" -> 50, "fr" -> 50, "es" -> 50)
  val FixtureRateDefault = 20

  private val curateSample: Q = (s, dir) =>
    stratifiedSample(docs(s, dir), FixtureRates, FixtureRateDefault)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  private val curateSplit: Q = (s, dir) =>
    splitAssign(docs(s, dir))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  private val curateMix: Q = (s, dir) =>
    uniformMix(docs(s, dir), targetPerSource = 5.0)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  private val curateTokenBudget: Q = (s, dir) =>
    tokenBudgetMix(docs(s, dir), budgetChars = 3000.0)
      .select(col("doc_id"), col("source"), col("src_chars"))
      .orderBy("doc_id")

  private val curateTokenBudgetPack: Q = (s, dir) =>
    tokenBudgetPack(docs(s, dir), budgetChars = 3000L)
      .select(col("doc_id"), col("source"), col("shard"))
      .orderBy("doc_id")

  /** Fixture temperature mix: alpha=0.5 over lang, total target 250. */
  private val curateTemp: Q = (s, dir) =>
    temperatureMix(docs(s, dir), alpha = 0.5, totalTarget = 250.0)
      .select(col("doc_id"), col("lang"), col("keep_bp"))
      .orderBy("doc_id")

  /** Fixture epoch weights: src0 3.5 epochs, src1 2.0, src2 0.4,
    * everything else 1.25. */
  val FixtureEpochWeights: Seq[(String, Int)] =
    Seq("src0" -> 3500, "src1" -> 2000, "src2" -> 400)
  val FixtureEpochDefault = 1250

  private val curateEpochs: Q = (s, dir) =>
    epochUpsample(docs(s, dir), FixtureEpochWeights, FixtureEpochDefault)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")

  private val curatePack: Q = (s, dir) =>
    packSequences(docs(s, dir), budgetChars = 2000L)
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("seq_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source", "shard", "seq_id")

  /** Token-unit packing — the production contract (context windows
    * are sized in TOKENS, not chars): the same running-offset packer,
    * sizes = BPE-ish pre-tokenizer counts computed once in a map-only
    * projection. Budget 512 units ≈ a small context window at fixture
    * doc sizes, so sequences hold a handful of docs. */
  private val curatePackTokens: Q = (s, dir) =>
    packSequences(docs(s, dir).withColumn("n_toks",
        TextAnalysis.tokenCountBpe(col("text")).cast("long")),
      budgetChars = 512L, sizeCol = "n_toks")
      .groupBy(col("source"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source", "shard", "seq_id")

  private val curateQualitySample: Q = (s, dir) =>
    qualityWeightedSample(docs(s, dir))
      .select(col("doc_id"), col("keep_bp"))
      .orderBy("doc_id")

  private val curatePipeline: Q = (s, dir) =>
    pipelineE2e(docs(s, dir)).orderBy("doc_id")

  private val curateShuffle: Q = (s, dir) =>
    shuffleShard(docs(s, dir), nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** Fixture decontamination corpus: eval set = every 41st document;
    * training corpus = the rest PLUS exact leaked copies of the eval
    * docs under ids +30000 (the planted contamination the operator
    * must find). */
  private val curateDecontaminate: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    decontaminate(train, evalSet).orderBy("doc_id")
  }

  /** The transpose of [[decontaminate]] — the audit run on the EVAL
    * set before a release: for every eval document, what fraction of
    * its distinct char-9-gram shingles appears ANYWHERE in the train
    * corpus (a high-coverage eval doc is answerable from training data
    * and measures memorization, not ability). 100 TB shape: the huge
    * train side is first PRUNED map-only by a semi-join against the
    * broadcast eval shingle set (its survivors are at most eval-sized,
    * so the following distinct shuffles almost nothing), then the eval
    * rows left-join that tiny hit set broadcast — the corpus is
    * scanned once and never shuffled. */
  def evalCoverage(train: DataFrame, evalSet: DataFrame): DataFrame = {
    val evalSh = evalSet.select(col("doc_id"),
      explode(Dedup.shingleSetCol(col("text"))).as("shingle"))
    val evalDistinct = evalSh.select("shingle").distinct()
    val hitShingles = train
      .select(explode(Dedup.shingleSetCol(col("text"))).as("shingle"))
      .join(broadcast(evalDistinct), Seq("shingle"), "left_semi")
      .distinct()
      .withColumn("hit", lit(1))
    evalSh.join(broadcast(hitShingles), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_covered"),
        count(lit(1)).as("n_shingles"))
      .withColumn("coverage_frac",
        col("n_covered").cast("double") / col("n_shingles"))
  }

  /** Same split as the decontamination fixture: eval = doc_id % 41,
    * train = the rest plus re-id'd verbatim COPIES of the eval docs —
    * so every eval doc must report coverage 1.0 on top of whatever
    * organic shingle overlap the shared vocabulary produces. */
  private val curateEvalCoverage: Q = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    evalCoverage(train, evalSet).orderBy("doc_id")
  }

  private val curateFunnel: Q = (s, dir) =>
    filterFunnel(docs(s, dir)).orderBy("stage_idx")

  /** Data-card mixture report — the composition table every released
    * training corpus ships: per (source, lang) document/char/token
    * counts with ROLLUP subtotals (per-source and grand total, the
    * §2.A rollup machinery) plus each cell's share of total corpus
    * chars. 100 TB shape: one rollup aggregation over the scan (map-
    * side combined) and ONE one-row total aggregate cross-broadcast
    * back onto the tiny report frame — the same "tiny aggregate
    * broadcast" pattern as the mixing operators; the share division is
    * two exact ints on both engines. */
  def mixReport(df: DataFrame): DataFrame = {
    val base = df.select(col("source"), col("lang"),
      length(col("text")).as("nc"),
      TextAnalysis.tokenCountWs(col("text")).cast("long").as("nt"))
    val rpt = base.rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nc").as("n_chars"), sum("nt").as("n_tokens"),
        grouping(col("source")).cast("int").as("g_source"),
        grouping(col("lang")).cast("int").as("g_lang"))
    val tot = base.agg(sum("nc").as("total_chars"))
    rpt.crossJoin(broadcast(tot))
      .withColumn("char_share",
        col("n_chars").cast("double") / col("total_chars"))
      .drop("total_chars")
  }

  private val curateMixReport: Q = (s, dir) =>
    mixReport(docs(s, dir))
      .orderBy(col("g_source"), col("g_lang"),
        col("source").asc_nulls_first, col("lang").asc_nulls_first)

  /** Fixture paragraph-dedup corpus: the word-soup docs carry no line
    * structure, so boilerplate is PLANTED — every doc becomes
    * header(lang) \n body(first 80 chars) \n footer(source). The
    * shared per-lang headers and per-source footers must survive only
    * in the lowest doc_id that carries them; the (unique) bodies all
    * survive. Built identically in the oracle so texts hash-match. */
  private val curateParagraphDedup: Q = (s, dir) => {
    val corpus = docs(s, dir).select(col("doc_id"),
      concat(lit("HDR "), col("lang"), lit("\n"),
        substring(col("text"), 1, 80), lit("\n"),
        lit("FTR "), col("source")).as("text"))
    paragraphDedup(corpus).orderBy("doc_id")
  }

  /** Corpus snapshot diff — the data-versioning report between two
    * corpus versions: per-doc status added/removed/changed/unchanged
    * by content hash. One full-outer equi-join on the id key; content
    * is compared by md5, so the join carries 32-char digests, never
    * text — at 100 TB the exchange is id+hash-sized. Feeds release
    * notes ("v2 added N docs, changed M") and incremental reprocessing
    * (only `added`/`changed` docs re-enter the pipeline). */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.select(col("doc_id").as("id"), md5(col("text")).as("h1"))
      .join(v2.select(col("doc_id").as("id"), md5(col("text")).as("h2")),
        Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") === col("h2"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))

  /** Fixture versions: v2 drops every 11th doc, rewrites every 13th,
    * and gains docs 300–329. */
  private val curateCorpusDiff: Q = (s, dir) => {
    val base = docs(s, dir)
    val v1 = base.filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val v2 = base.filter(col("doc_id") < 300 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") >= 300 && col("doc_id") < 330)
        .select(col("doc_id"), col("text")))
    corpusDiff(v1, v2).orderBy("doc_id")
  }

  /** Deterministic per-source inspection sample: the `n` documents
    * with the smallest independent id-hash per source — the "show me
    * five random docs from each source" report every curation review
    * starts from, made reproducible (the SAME docs on every engine,
    * run, and cluster size; id-addressed like all selection here) and
    * executed by the library's own bounded-heap
    * [[graft.plans.TopKPerKey]] operator: one shuffle on the source
    * key, per-key heaps of size n, no per-group sort — at 100 TB the
    * window-ROW_NUMBER alternative sorts every group's full extent. */
  def inspectionSample(df: DataFrame, n: Int): DataFrame = {
    val ranked = df.withColumn("rk",
      hashBucket("inspect:", col("doc_id"), 1000000))
    graft.plans.TopKPerKey(ranked, Seq("source"),
      Seq(col("rk").asc, col("doc_id").asc), n)
  }

  private val curateImportance: Q = (s, dir) =>
    importanceResample(docs(s, dir), col("source") === "src0")
      .orderBy("doc_id")

  private val curateInspection: Q = (s, dir) =>
    inspectionSample(docs(s, dir), 5)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("source", "rk", "doc_id")

  private val curateQualityThreshold: Q = (s, dir) =>
    qualityThreshold(docs(s, dir)).orderBy("source")

  private val curatePerplexityBuckets: Q = (s, dir) =>
    perplexityBuckets(docs(s, dir)).orderBy("doc_id")

  private val curateCurriculum: Q = (s, dir) =>
    curriculumOrder(docs(s, dir), 8)
      .select(col("doc_id"), col("shard"), col("ease"), col("pos"))
      .orderBy("shard", "pos")

  private val curateLengthHistogram: Q = (s, dir) =>
    lengthHistogram(docs(s, dir)).orderBy("source", "log2_bucket")

  private val curateNegativePairs: Q = (s, dir) =>
    negativePairs(docs(s, dir).filter(col("doc_id") < 200), 3)
      .orderBy("anchor_id", "t")

  private val curateShardManifest: Q = (s, dir) =>
    shardManifest(docs(s, dir), 8).orderBy("shard")

  val queries: Map[String, Q] = Map(
    "curate_negative_pairs"    -> curateNegativePairs,
    "curate_shard_manifest"    -> curateShardManifest,
    "curate_importance_resample" -> curateImportance,
    "curate_inspection_sample" -> curateInspection,
    "curate_quality_threshold" -> curateQualityThreshold,
    "curate_perplexity_buckets" -> curatePerplexityBuckets,
    "curate_curriculum_order"  -> curateCurriculum,
    "curate_length_histogram"  -> curateLengthHistogram,
    "curate_corpus_diff"       -> curateCorpusDiff,
    "curate_sample_stratified" -> curateSample,
    "curate_split_assign"      -> curateSplit,
    "curate_mix_uniform"       -> curateMix,
    "curate_mix_temperature"   -> curateTemp,
    "curate_mix_token_budget"  -> curateTokenBudget,
    "curate_token_budget_pack" -> curateTokenBudgetPack,
    "curate_epoch_upsample"    -> curateEpochs,
    "curate_shuffle_shard"     -> curateShuffle,
    "curate_sample_quality"    -> curateQualitySample,
    "curate_pipeline_e2e"      -> curatePipeline,
    "curate_pack_sequences"    -> curatePack,
    "curate_pack_by_tokens"    -> curatePackTokens,
    "curate_decontaminate"     -> curateDecontaminate,
    "curate_filter_funnel"     -> curateFunnel,
    "curate_paragraph_dedup"   -> curateParagraphDedup,
    "curate_mix_report"        -> curateMixReport,
    "curate_eval_coverage"     -> curateEvalCoverage,
  )

  // ------------------------------------------------------- oracle SQL

  /** DuckDB twin of [[hashBucket]]. */
  private def sqlBucket(prefix: String, key: String, mod: Int): String =
    s"CAST(('0x' || substr(md5('$prefix' || $key), 1, 15)) AS BIGINT) % $mod"

  private val sqlShingles =
    """CASE WHEN length(text) < 9 THEN [text]
      |  ELSE list_distinct(list_transform(range(1, length(text) - 7),
      |    i -> substr(text, CAST(i AS INT), 9))) END""".stripMargin

  private val sqlTokWs =
    "len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))"

  val oracles: Map[String, String] = Map(
    "curate_curriculum_order" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(${sqlBucket("curr:", "doc_id", 8)} AS BIGINT) AS shard,
         |    CAST(round((${TextAnalysis.sqlQualityScore}) * 10000)
         |      AS BIGINT) AS ease,
         |    CAST(${sqlBucket("ctie:", "doc_id", 1000000)} AS BIGINT) AS tie
         |  FROM documents)
         |SELECT doc_id, shard, ease,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY ease DESC, tie, doc_id) AS BIGINT) AS pos
         |FROM q ORDER BY shard, pos""".stripMargin,

    "curate_perplexity_buckets" ->
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
        |  GROUP BY bg.doc_id),
        |sm AS (
        |  SELECT w.doc_id,
        |    COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |    CASE WHEN s.n_bigrams > 0 THEN s.sum_p_micro // s.n_bigrams END
        |      AS score_micro
        |  FROM w LEFT JOIN scored s ON w.doc_id = s.doc_id),
        |vc AS (SELECT score_micro, CAST(COUNT(*) AS BIGINT) AS c FROM sm
        |       WHERE score_micro IS NOT NULL GROUP BY score_micro),
        |cum AS (SELECT score_micro, SUM(c) OVER (ORDER BY score_micro)
        |          AS cum
        |        FROM vc),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc),
        |th AS (
        |  SELECT
        |    MIN(CASE WHEN cum >= (n.n + 2) // 3 THEN score_micro END) AS t1,
        |    MIN(CASE WHEN cum >= (2 * n.n + 2) // 3 THEN score_micro END)
        |      AS t2
        |  FROM cum, n)
        |SELECT sm.doc_id, sm.n_bigrams, sm.score_micro,
        |  CASE WHEN sm.score_micro IS NULL THEN 'tail'
        |       WHEN sm.score_micro <= th.t1 THEN 'tail'
        |       WHEN sm.score_micro <= th.t2 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM sm, th ORDER BY sm.doc_id""".stripMargin,

    "curate_importance_resample" ->
      s"""WITH toked AS (
         |  SELECT doc_id, (source = 'src0') AS is_target,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0) AS l
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, is_target,
         |    unnest(list_transform(generate_series(1, len(l) - 1),
         |      i -> l[i] || ' ' || l[i + 1])) AS gram
         |  FROM toked WHERE len(l) >= 2),
         |occ AS (
         |  SELECT doc_id, is_target,
         |    ${sqlBucket("dsir:", "gram", 256)} AS bucket
         |  FROM bg),
         |counts AS (
         |  SELECT bucket,
         |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
         |  FROM occ GROUP BY bucket),
         |tot AS (
         |  SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS nt,
         |    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS nr
         |  FROM occ),
         |lr AS (
         |  SELECT bucket,
         |    CAST(ROUND((ln(CAST(ct + 1 AS DOUBLE) / (nt + 256))
         |      - ln(CAST(cr + 1 AS DOUBLE) / (nr + 256))) * 10000)
         |      AS BIGINT) AS lr_u
         |  FROM counts CROSS JOIN tot),
         |scored AS (
         |  SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(l.lr_u) AS BIGINT) AS logw_u
         |  FROM occ o JOIN lr l ON o.bucket = l.bucket
         |  GROUP BY o.doc_id)
         |SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams,
         |  COALESCE(s.logw_u, 0) AS logw_u,
         |  COALESCE(s.logw_u, 0) > 0 AS selected
         |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "curate_inspection_sample" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, source,
         |    ${sqlBucket("inspect:", "doc_id", 1000000)} AS rk
         |  FROM documents),
         |top AS (
         |  SELECT doc_id, source, rk,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY rk, doc_id) AS rn
         |  FROM ranked)
         |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
         |FROM top WHERE rn <= 5
         |ORDER BY source, rk, doc_id""".stripMargin,

    // exact rank-selected cutoffs gate the values; the sketch is
    // asserted inside its ±4-rank value band via the boolean
    "curate_quality_threshold" ->
      s"""WITH scored AS (
         |  SELECT source AS src, (${TextAnalysis.sqlQualityScore}) AS v
         |  FROM documents),
         |ranked AS (
         |  SELECT src, v,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY v) AS rn,
         |    COUNT(*) OVER (PARTITION BY src) AS n
         |  FROM scored)
         |SELECT src AS source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.8) AS BIGINT) THEN v END)
         |    AS exact_cutoff,
         |  TRUE AS cutoff_within_tol
         |FROM ranked GROUP BY src ORDER BY source""".stripMargin,

    "curate_shard_manifest" ->
      s"""SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(len) AS BIGINT) AS n_chars,
         |  bit_xor(h) AS content_checksum
         |FROM (
         |  SELECT ${sqlBucket("shuf:", "doc_id", 8)} AS shard,
         |    CAST(length(text) AS BIGINT) AS len,
         |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
         |  FROM documents)
         |GROUP BY shard ORDER BY shard""".stripMargin,

    "curate_negative_pairs" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |r AS (SELECT doc_id,
        |        ROW_NUMBER() OVER (ORDER BY doc_id) AS rk FROM d),
        |cand AS (
        |  SELECT r.doc_id AS anchor_id, t.t, r.rk,
        |    CAST(('0x' || substr(md5(CAST(r.doc_id AS VARCHAR) || ':' ||
        |      CAST(t.t AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % (SELECT COUNT(*) FROM d) + 1 AS neg_rk
        |  FROM r, generate_series(1, 3) t(t))
        |SELECT c.anchor_id, CAST(c.t AS BIGINT) AS t, r2.doc_id AS neg_id
        |FROM cand c JOIN r r2 ON c.neg_rk = r2.rk
        |WHERE c.neg_rk <> c.rk
        |ORDER BY anchor_id, t""".stripMargin,

    "curate_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 300),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
        |      AS h
        |  FROM documents WHERE doc_id < 300 AND doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id, md5(text) FROM documents
        |  WHERE doc_id >= 300 AND doc_id < 330)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.h IS NULL THEN 'added'
        |       WHEN v2.h IS NULL THEN 'removed'
        |       WHEN v1.h = v2.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    "curate_mix_report" ->
      s"""WITH base AS (
         |  SELECT source, lang, length(text) AS nc,
         |    CAST($sqlTokWs AS BIGINT) AS nt
         |  FROM documents),
         |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS total_chars FROM base)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(nc) AS BIGINT) AS n_chars,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(GROUPING(source) AS INT) AS g_source,
         |  CAST(GROUPING(lang) AS INT) AS g_lang,
         |  CAST(SUM(nc) AS DOUBLE) / (SELECT total_chars FROM tot)
         |    AS char_share
         |FROM base
         |GROUP BY ROLLUP(source, lang)
         |ORDER BY g_source, g_lang,
         |  source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin,

    "curate_sample_stratified" -> {
      val cases = FixtureRates.map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString(" ")
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang, ${sqlBucket("samp:", "doc_id", 100)} AS bucket
         |  FROM documents)
         |WHERE bucket < CASE lang $cases ELSE $FixtureRateDefault END
         |ORDER BY doc_id""".stripMargin
    },

    "curate_split_assign" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 800 THEN 'train'
         |       WHEN bucket < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${sqlBucket("split:", "doc_id", 1000)} AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "curate_mix_uniform" ->
      s"""WITH counts AS (
         |  SELECT source, COUNT(*) AS src_cnt FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN counts c ON d.source = c.source
         |WHERE (${sqlBucket("mix:", "d.doc_id", 10000)}) / 10000.0
         |      < LEAST(1.0, 5.0 / c.src_cnt)
         |ORDER BY d.doc_id""".stripMargin,

    "curate_mix_token_budget" ->
      s"""WITH sizes AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars
         |  FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source, s.src_chars
         |FROM documents d JOIN sizes s ON d.source = s.source
         |WHERE (${sqlBucket("tbmix:", "d.doc_id", 10000)}) / 10000.0
         |      < LEAST(CAST(1.0 AS DOUBLE), CAST(3000.0 AS DOUBLE) / s.src_chars)
         |ORDER BY d.doc_id""".stripMargin,

    "curate_token_budget_pack" ->
      s"""WITH offs AS (
         |  SELECT doc_id, source,
         |    ${sqlBucket("tbshard:", "doc_id", 4)} AS shard,
         |    COALESCE(SUM(n_chars) OVER (
         |      PARTITION BY source, ${sqlBucket("tbshard:", "doc_id", 4)}
         |      ORDER BY ${sqlBucket("tbord:", "doc_id", 1000000)}, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS start_off
         |  FROM documents)
         |SELECT doc_id, source, shard FROM offs
         |WHERE start_off < 750
         |ORDER BY doc_id""".stripMargin,

    "curate_mix_temperature" ->
      s"""WITH counts AS (
         |  SELECT lang, COUNT(*) AS dom_cnt FROM documents GROUP BY lang),
         |z AS (SELECT SUM(POWER(dom_cnt, 0.5)) AS z FROM counts),
         |rates AS (
         |  SELECT lang, LEAST(10000, CAST(round(
         |    250.0 * POWER(dom_cnt, 0.5) / z.z / dom_cnt * 10000) AS BIGINT))
         |    AS keep_bp
         |  FROM counts, z)
         |SELECT d.doc_id, d.lang, r.keep_bp
         |FROM documents d JOIN rates r ON d.lang = r.lang
         |WHERE (${sqlBucket("tmix:", "d.doc_id", 10000)}) < r.keep_bp
         |ORDER BY d.doc_id""".stripMargin,

    "curate_epoch_upsample" ->
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    CASE source WHEN 'src0' THEN 3500 WHEN 'src1' THEN 2000
         |         WHEN 'src2' THEN 400 ELSE 1250 END AS w_pm,
         |    ${sqlBucket("epoch:", "doc_id", 1000)} AS b
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    CAST(w_pm // 1000 AS BIGINT)
         |      + CASE WHEN b < w_pm % 1000 THEN 1 ELSE 0 END AS n_copies
         |  FROM w)
         |SELECT doc_id, source, CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
         |FROM c WHERE n_copies > 0
         |ORDER BY doc_id, epoch""".stripMargin,

    "curate_sample_quality" ->
      s"""SELECT doc_id,
         |  CAST(round((${TextAnalysis.sqlQualityScore}) * 10000) AS BIGINT)
         |    AS keep_bp
         |FROM documents
         |WHERE (${sqlBucket("qsamp:", "doc_id", 10000)})
         |  < CAST(round((${TextAnalysis.sqlQualityScore}) * 10000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,

    "curate_pipeline_e2e" ->
      s"""WITH flt AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE (${TextAnalysis.sqlQualityScore}) >= 0.5),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM flt GROUP BY md5(text)),
         |train AS (
         |  SELECT f.doc_id, f.text FROM flt f JOIN keep k ON f.doc_id = k.doc_id
         |  WHERE f.doc_id % 41 <> 0),
         |eval_sh AS (
         |  SELECT DISTINCT shingle FROM (
         |    SELECT unnest($sqlShingles) AS shingle
         |    FROM documents WHERE doc_id % 41 = 0)),
         |dirty AS (
         |  SELECT t.doc_id
         |  FROM (SELECT doc_id, unnest($sqlShingles) AS shingle FROM train) t
         |  LEFT JOIN eval_sh e ON t.shingle = e.shingle
         |  GROUP BY t.doc_id
         |  HAVING COUNT(e.shingle) >= LEAST(10, COUNT(*))
         |    AND CAST(COUNT(e.shingle) AS DOUBLE) / COUNT(*) >= 0.8),
         |clean AS (
         |  SELECT doc_id FROM train
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |assigned AS (
         |  SELECT doc_id,
         |    CASE WHEN ${sqlBucket("split:", "doc_id", 1000)} < 800 THEN 'train'
         |         WHEN ${sqlBucket("split:", "doc_id", 1000)} < 900 THEN 'val'
         |         ELSE 'test' END AS split,
         |    ${sqlBucket("shuf:", "doc_id", 8)} AS shard,
         |    ${sqlBucket("ord:", "doc_id", 1000000)} AS sort_key
         |  FROM clean)
         |SELECT doc_id, split, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id) AS BIGINT) AS pos
         |FROM assigned
         |ORDER BY doc_id""".stripMargin,

    "curate_shuffle_shard" ->
      s"""SELECT doc_id, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id) AS BIGINT) AS pos
         |FROM (
         |  SELECT doc_id,
         |    ${sqlBucket("shuf:", "doc_id", 8)} AS shard,
         |    ${sqlBucket("ord:", "doc_id", 1000000)} AS sort_key
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "curate_pack_sequences" ->
      s"""WITH offs AS (
         |  SELECT doc_id, source, n_chars,
         |    ${sqlBucket("shard:", "doc_id", 4)} AS shard,
         |    COALESCE(SUM(n_chars) OVER (
         |      PARTITION BY source, ${sqlBucket("shard:", "doc_id", 4)}
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
         |  FROM documents)
         |SELECT source, shard,
         |  CAST(floor(start_off / 2000.0) AS BIGINT) AS seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS seq_chars,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
         |FROM offs
         |GROUP BY source, shard, CAST(floor(start_off / 2000.0) AS BIGINT)
         |ORDER BY source, shard, seq_id""".stripMargin,

    "curate_length_histogram" ->
      """SELECT source,
        |  CAST(length(bin(n_chars)) - 1 AS BIGINT) AS log2_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(CAST(1 AS BIGINT) << (length(bin(n_chars)) - 1) AS BIGINT)
        |    AS bucket_lo
        |FROM documents
        |GROUP BY source, length(bin(n_chars)) - 1
        |ORDER BY source, log2_bucket""".stripMargin,

    "curate_pack_by_tokens" ->
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(${TextAnalysis.sqlTokBpe} AS BIGINT) AS n_toks
         |  FROM documents),
         |offs AS (
         |  SELECT doc_id, source, n_toks,
         |    ${sqlBucket("shard:", "doc_id", 4)} AS shard,
         |    COALESCE(SUM(n_toks) OVER (
         |      PARTITION BY source, ${sqlBucket("shard:", "doc_id", 4)}
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS start_off
         |  FROM sized)
         |SELECT source, shard,
         |  CAST(floor(start_off / 512.0) AS BIGINT) AS seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
         |FROM offs
         |GROUP BY source, shard, CAST(floor(start_off / 512.0) AS BIGINT)
         |ORDER BY source, shard, seq_id""".stripMargin,

    "curate_eval_coverage" ->
      s"""WITH eval_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text FROM eval_docs),
         |eval_sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS shingle FROM eval_docs),
         |train_sh AS (
         |  SELECT DISTINCT shingle FROM (
         |    SELECT unnest($sqlShingles) AS shingle FROM train))
         |SELECT e.doc_id, CAST(COUNT(t.shingle) AS BIGINT) AS n_covered,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(t.shingle) AS DOUBLE) / COUNT(*) AS coverage_frac
         |FROM eval_sh e LEFT JOIN train_sh t ON e.shingle = t.shingle
         |GROUP BY e.doc_id
         |ORDER BY e.doc_id""".stripMargin,

    "curate_decontaminate" ->
      s"""WITH eval_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text FROM eval_docs),
         |train_sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS shingle FROM train),
         |eval_sh AS (
         |  SELECT DISTINCT shingle FROM (
         |    SELECT unnest($sqlShingles) AS shingle FROM eval_docs))
         |SELECT t.doc_id, CAST(COUNT(e.shingle) AS BIGINT) AS n_shared,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(e.shingle) AS DOUBLE) / COUNT(*) AS overlap_frac,
         |  COUNT(e.shingle) >= LEAST(10, COUNT(*))
         |    AND CAST(COUNT(e.shingle) AS DOUBLE) / COUNT(*) >= 0.0
         |    AS contaminated
         |FROM train_sh t LEFT JOIN eval_sh e ON t.shingle = e.shingle
         |GROUP BY t.doc_id
         |HAVING COUNT(e.shingle) > 0
         |ORDER BY t.doc_id""".stripMargin,

    "curate_filter_funnel" ->
      s"""WITH agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         |    CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(SUM(CASE WHEN n_chars >= 100
         |      AND $sqlTokWs BETWEEN 5 AND 5000 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(SUM(CASE WHEN n_chars >= 100
         |      AND $sqlTokWs BETWEEN 5 AND 5000
         |      AND (CAST(length(text) - length(regexp_replace(text, '[\\p{P}]', '', 'g'))
         |           AS DOUBLE) / NULLIF(length(text), 0)) <= 0.10
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c3
         |  FROM documents)
         |SELECT stage_idx, stage, rows_in, rows_out,
         |  CAST(rows_out AS DOUBLE) / NULLIF(rows_in, 0) AS retention
         |FROM (
         |  SELECT CAST(1 AS INT) AS stage_idx, 'min_chars' AS stage,
         |    total AS rows_in, c1 AS rows_out FROM agg
         |  UNION ALL
         |  SELECT CAST(2 AS INT), 'token_band', c1, c2 FROM agg
         |  UNION ALL
         |  SELECT CAST(3 AS INT), 'punct_ratio', c2, c3 FROM agg)
         |ORDER BY stage_idx""".stripMargin,

    "curate_paragraph_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, 'HDR ' || lang || chr(10) || substr(text, 1, 80)
         |    || chr(10) || 'FTR ' || source AS text
         |  FROM documents),
         |paras AS (
         |  SELECT doc_id, generate_subscripts(l, 1) AS pos,
         |    unnest(l) AS para
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l
         |        FROM corpus)),
         |keeper AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      ROW_NUMBER() OVER (PARTITION BY para
         |        ORDER BY doc_id, pos) AS rn
         |    FROM paras) WHERE rn = 1)
         |SELECT p.doc_id,
         |  string_agg(p.para, chr(10) ORDER BY p.pos) AS text
         |FROM paras p
         |JOIN keeper k ON p.doc_id = k.doc_id AND p.pos = k.pos
         |GROUP BY p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
  )
}
