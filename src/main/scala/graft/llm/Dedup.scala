package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for training-data pipelines (north-star
  * extension): exact content-hash dedup, char-n-gram Jaccard, MinHash
  * + LSH banding, SimHash with band-blocked near-pair search, and
  * embedding-cosine near-duplicates.
  *
  * Scale design (100 TB): every operator is expressed as
  * shuffle-on-key DataFrame ops —
  *  - exact dedup is one hash-partitioned groupBy on the content hash;
  *  - MinHash/LSH candidate generation joins on (band, bucket), never
  *    all-pairs; the quadratic verify runs only inside candidate
  *    groups (bounded by band collision rates). Batch MinHash-LSH is
  *    row-local: the native [[graft.functions.MinHashLsh]] kernel
  *    shingles, signs, bands and hash-sets each document on its row
  *    ([[lshDocs]]), so no shingle row is exploded or aggregated —
  *    measured faster than the grouped explode + `min` aggregate at
  *    every corpus size tried, by more at larger ones (BASELINE.md);
  *    the grouped forms stay as the DuckDB-mirrored reference;
  *  - SimHash near-pair search blocks on 8-bit sub-bands (pigeonhole:
  *    hamming ≤ 3 ⇒ some band of 4 equal), again join-on-key;
  *  - hash functions are md5-derived (deterministic, partitioning-
  *    independent), so signatures are reproducible across engines and
  *    cluster sizes — no RNG state to ship.
  * Fixture queries restrict to a fixed doc subset so their cost is
  * scale-invariant while the operators themselves stay generic.
  */
object Dedup {

  /** First 60 bits of md5 as a non-negative long (portable across
    * engines: DuckDB mirrors it as CAST('0x'||substr(md5(x),1,15) AS
    * BIGINT)). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ------------------------------------------------------ exact dedup

  /** Group by content hash: keep the smallest id, count copies. */
  def exactGroups(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: one row per distinct content, the minimum-id copy. */
  def dropExactDuplicates(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------- shingling

  /** Distinct char-k-gram shingles per document: (id, shingle). The
    * shingle set is computed row-locally (transform over a position
    * sequence) then exploded — one narrow pass, shuffle only on the
    * consumer's key. */
  def charShingles(df: DataFrame, k: Int = 9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val shingles = when(length(text) < k, array(text)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => substring(text, i, lit(k)))))
    df.select(col(idCol).as("id"), explode(shingles).as("shingle"))
  }

  /** Row-local shingle sets: the per-doc distinct k-gram set as an
    * array column — the SAME set [[charShingles]] explodes, kept on
    * the row. The basis of the row-local MinHash path below: a
    * signature is a min over THIS set, so nothing about it requires
    * the set to leave the row, and the exploded frame only exists to
    * serve aggregation-based consumers. */
  def shingleSets(df: DataFrame, k: Int = 9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"), shingleSetCol(col(textCol), k).as("shingles"))

  /** The distinct k-gram set as a COLUMN — the single definition both
    * batch frames ([[shingleSets]], [[charShingles]] explodes the same
    * expression) and the streaming per-row path build on. */
  def shingleSetCol(text: Column, k: Int = 9): Column =
    when(length(text) < k, array(text)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => substring(text, i, lit(k)))))

  /** xx-family fold-min signature COLUMNS over a shingle-set column
    * (aliased sig_0..sig_{n-1}) — shared by
    * [[minHashSignaturesRowLocalXx]] and the streaming signer. */
  def minHashSigColsXx(shingles: Column, numHashes: Int = 16): Seq[Column] =
    (0 until numHashes).map(i =>
      aggregate(shingles, lit(Long.MaxValue),
        (acc, s) => least(acc, xxhash64(lit(i), s))).as(s"sig_$i"))

  /** LSH band/bucket pairs as an array-of-struct COLUMN over sig_*
    * columns — the same md5(concat_ws) bucket derivation as
    * [[lshBucketsWide]], for consumers that explode on the row
    * (streaming) instead of stacking a frame. */
  def lshBandStructs(numHashes: Int = 16, rowsPerBand: Int = 4): Column =
    array((0 until numHashes / rowsPerBand).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"sig_$i").cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws(",", slice: _*)).as("bucket"))
    }: _*)

  /** Row-local 64-bit identities + set size of a shingle-set frame —
    * the map-only twin of `hashShingles(...).groupBy(id).collect_list`
    * (what [[verifyJaccard]] otherwise rebuilds with a shuffle). */
  def hashedShingleSets(sets: DataFrame): DataFrame =
    sets.select(col("id"),
      array_sort(transform(col("shingles"), s => xxhash64(s))).as("sh"),
      size(col("shingles")).cast("long").as("set_size"))

  /** Pairwise Jaccard via candidate-then-verify: candidates come from a
    * self-join on RARE shingles only (document frequency ≤
    * `maxShingleDf`), then exact Jaccard runs on the candidate pairs
    * over the FULL shingle sets — so the output is identical to the
    * all-pairs answer whenever every qualifying pair shares at least
    * one sub-cap shingle (at jaccard ≥ t the pair shares ≥ t/(1+t) of
    * its shingles, so only a corpus whose near-dups consist solely of
    * boilerplate shingles can lose a pair).
    *
    * Scale: the frequency cap is what stops a common shingle ("the
    * nine ch") from forming a quadratic mega-group in the candidate
    * join — group cost is bounded by maxShingleDf², and the verify
    * join is bounded by the candidate set, never all-pairs.
    *
    * The default (`Int.MaxValue`) is EXACT all-pairs — callers opt
    * into the approximate cap explicitly, so a 2-arg call never
    * silently drops qualifying pairs.
    *
    * Shingle identity is the 64-bit xxhash of the shingle text: every
    * downstream join, dedupe, and set-intersection then works on
    * longs instead of 9-char strings (measured 3x on the full sf0.1
    * corpus — string hashing dominated the verify stage). A hash
    * collision (p ~ 2^-64 per shingle pair) could merge two distinct
    * shingles; the oracle gate's exact string-side recomputation
    * verifies no fixture corpus is affected. */
  def jaccardPairs(shingles: DataFrame, threshold: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // The hashed shingle frame feeds FOUR plan arms (df aggregate,
    // rare anti-join, candidate self-join, verify-side set build), so
    // each arm re-runs the explode+hash DAG — an obvious
    // localCheckpoint candidate. MEASURED (r11, clean legs at three
    // decades) and REJECTED: checkpointing the hashed (16-byte-row)
    // frame wins ~2x at sf0.1 (9.7→4.6 s, fits in storage memory),
    // is flat at sf1 (8.7→8.9 s), and LOSES 2.6x/3.9x at sf10
    // (jaccard 52.4→136.3 s, containment 49.1→189.3 s): the exploded
    // frame is ~shingles-per-doc x the corpus, so materializing it
    // spills and every arm re-READS from disk, while the lazy form
    // re-derives it from the compressed columnar scan inside
    // whole-stage codegen — recompute is cheaper than materialize at
    // every scale that matters (same verdict as the r8 string-frame
    // persist, 43.6→80.6 s; bench/r11/r11_jacc_sf{1,10}.json +
    // r11_opt_{before2,after}_sf01.json carry the curve). The family
    // stays LAZY by measurement, not by omission.
    val hashed = hashShingles(shingles)
    // Heavy hitters are few by definition (Zipf), so the cap is an
    // anti-join against a small aggregated frame — a hash aggregate +
    // co-partitioned anti-join on the same key, not a sort-based
    // window over every shingle row.
    val frequent = hashed.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxShingleDf)
      .select("shingle")
    val rare = hashed.join(frequent, Seq("shingle"), "left_anti")
      .select("id", "shingle")
    val candidates = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyJaccard(candidates, hashed, threshold)
  }

  /** Containment-similarity near-dup pairs — the ASYMMETRIC member of
    * the shingle-similarity family (Broder 1997's containment
    * c(A,B) = |S(A)∩S(B)| / |S(A)|): flags a document whose shingle
    * set is mostly a SUBSET of another's — a quote, an excerpt, a doc
    * concatenated into a compilation — even when Jaccard is tiny
    * because the container dwarfs the contained side (an 80-char quote
    * of a 500-char doc has containment 1.0 but Jaccard ~0.15, invisible
    * to [[jaccardPairs]] at any useful threshold). Containment is
    * measured w.r.t. the SMALLER set of each unordered pair, so one
    * pass covers both directions of the asymmetric measure.
    *
    * Same candidate-then-verify shape as [[jaccardPairs]] (and the
    * same losslessness argument: a pair at containment ≥ t shares
    * ≥ t·|smaller| shingles, so only pairs overlapping solely in
    * super-cap boilerplate shingles can be missed): rare-shingle
    * equi-join bounded by maxShingleDf² per shingle, exact
    * sorted-merge intersect ([[graft.functions.SortedIntersectSize]])
    * on candidates only — never all-pairs. */
  def containmentPairs(shingles: DataFrame, threshold: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // same four-consumer shape as [[jaccardPairs]]: LAZY by
    // measurement — see the checkpoint experiment verdict there
    val hashed = hashShingles(shingles)
    val frequent = hashed.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxShingleDf)
      .select("shingle")
    val rare = hashed.join(frequent, Seq("shingle"), "left_anti")
      .select("id", "shingle")
    val candidates = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val sets = shingleSetRows(hashed)
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("set_size").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("set_size").as("size_b")), "id_b")
      .withColumn("n_common",
        graft.functions.SortedIntersectSize.sortedIntersectSize(
          col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("containment",
        col("n_common").cast("double") /
          least(col("size_a"), col("size_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** 64-bit shingle identities: all candidate/verify set math runs on
    * longs; the shingle text is only needed where its VALUE matters
    * (the md5-ordered MinHash permutations). */
  def hashShingles(shingles: DataFrame): DataFrame =
    shingles.select(col("id"), xxhash64(col("shingle")).as("shingle"))

  // ----------------------------------------------------- MinHash/LSH

  /** MinHash signatures: seed `i` is the minimum 8-hex slice
    * `substr(md5((i/4) + ":" + shingle), 8*(i%4)+1, 8)` over the
    * document's shingle set — four 32-bit permutations per md5 call
    * (fixed-width lowercase hex orders identically to the numeric
    * value, so each slice is a valid min-over-permutation; slicing
    * one digest into independent seeds is the standard trick that
    * quarters the hashing bill — measured 13 s -> 8 s on the
    * full-corpus sf0.1 bench).
    *
    * Computed as a hash projection (one md5 per group per shingle
    * row) followed by ONE wide aggregation (numHashes min columns in
    * a single groupBy(id)) rather than a seed-explode: min() combines
    * map-side, so the shuffle carries one 16-column row per
    * (partition, doc) instead of numHashes× exploded shingle rows —
    * at 100 TB the difference is the whole job.
    * Output: (id, sig_0..sig_{n-1}). */
  def minHashSignaturesWide(shingles: DataFrame, numHashes: Int = 16): DataFrame = {
    val nGroups = (numHashes + 3) / 4
    val hashed = shingles.select(
      col("id") +: (0 until nGroups).map(g =>
        md5(concat(lit(s"$g:"), col("shingle"))).as(s"h_$g")): _*)
    def sig(i: Int) =
      min(substring(col(s"h_${i / 4}"), 1 + 8 * (i % 4), 8)).as(s"sig_$i")
    hashed.groupBy("id").agg(sig(0), (1 until numHashes).map(sig): _*)
  }

  /** Production-path MinHash signatures: seed i is the minimum
    * xxhash64(i, shingle) over the document's shingle set — one
    * codegen'd 64-bit hash per (seed, shingle) instead of a slice of
    * an md5 hex digest. Same single wide map-side-combining groupBy
    * shape as [[minHashSignaturesWide]]; that md5 form stays the
    * DuckDB-oracle-verified twin (DuckDB has md5 but no xxhash64 —
    * the same fixture-vs-production split as the micro-int vs float
    * ANN paths). Signature VALUES differ from the md5 form, but the
    * collision behavior (min over a uniform permutation) is the same
    * family, so candidate recall is equivalent — pinned by the
    * fixture-corpus equality test in LlmSpec. */
  def minHashSignaturesWideXx(shingles: DataFrame,
      numHashes: Int = 16): DataFrame = {
    def sig(i: Int) =
      min(xxhash64(lit(i), col("shingle"))).as(s"sig_$i")
    shingles.groupBy("id").agg(sig(0), (1 until numHashes).map(sig): _*)
  }

  /** Row-local xx-family MinHash signatures from shingle-set arrays:
    * sig_i = fold-min over the set of the hash
    * [[minHashSignaturesWideXx]] aggregates, so the VALUES are
    * bit-identical to it — same hash, same set, same min. */
  def minHashSignaturesRowLocalXx(sets: DataFrame,
      numHashes: Int = 16): DataFrame =
    sets.select(col("id") +:
      minHashSigColsXx(col("shingles"), numHashes): _*)

  /** MinHash-LSH near-dup pairs on a row-local signature path. The md5
    * family (`xx = false`) is [[minHashLshPairs]] itself — the native
    * kernel is the md5 row-local signer. `xx = true` signs with
    * higher-order-function folds over the shingle-set arrays
    * ([[minHashSignaturesRowLocalXx]]) and verifies over
    * [[hashedShingleSets]]; its pairs match the md5 form whenever both
    * bandings recall the candidate. */
  def minHashLshPairsRowLocal(df: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4, k: Int = 9,
      idCol: String = "doc_id", textCol: String = "text",
      xx: Boolean = false): DataFrame =
    if (!xx) minHashLshPairs(df, threshold, numHashes, rowsPerBand, k,
      idCol, textCol)
    else {
      val sets = shingleSets(df, k, idCol, textCol)
      // one explicit repartition per frame is the AQE reuse point the
      // self-join and the two verify joins read back; without it each
      // arm recomputes the map-side signature/set work from the text
      val buckets = lshBucketsWide(
        minHashSignaturesRowLocalXx(sets, numHashes).repartition(col("id")),
        numHashes, rowsPerBand)
      verifyJaccardSets(bandCandidates(buckets, buckets, selfJoin = true),
        hashedShingleSets(sets).repartition(col("id")), threshold)
    }

  /** [[minHashLshPairsFromShingles]] on the xxhash64 signature family —
    * the path a 100 TB corpus runs (no md5 in the per-shingle hot
    * loop); verify is the same exact-Jaccard kernel, so output pairs
    * match the md5 form whenever both bandings recall the candidate. */
  def minHashLshPairsXxFromShingles(shingles: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val buckets = lshBucketsWide(
      minHashSignaturesWideXx(shingles, numHashes), numHashes, rowsPerBand)
    verifyJaccard(bandCandidates(buckets, buckets, selfJoin = true),
      hashShingles(shingles), threshold)
  }

  /** Long-form (id, seed, sig) view of the wide signatures, for
    * consumers that want one row per hash. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int = 16): DataFrame = {
    val wide = minHashSignaturesWide(shingles, numHashes)
    val stacked = (0 until numHashes)
      .map(s => s"$s, sig_$s").mkString(", ")
    wide.selectExpr("id", s"stack($numHashes, $stacked) AS (seed, sig)")
  }

  /** LSH banding over wide signatures: bucket = md5 of the band's
    * signature slice (seed order) — row-local, no extra shuffle. */
  def lshBucketsWide(wide: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => s"sig_$s").mkString(", ")
      s"$b, md5(concat_ws(',', $slice))"
    }.mkString(", ")
    wide.selectExpr("id", s"stack($nBands, $bands) AS (band, bucket)")
  }

  /** Distinct candidate pairs (id_a, id_b) sharing a (band, bucket):
    * `selfJoin` keeps id_a < id_b within one bucket frame; otherwise
    * every old×batch pair is kept. */
  private def bandCandidates(old: DataFrame, batch: DataFrame,
      selfJoin: Boolean): DataFrame = {
    val on = col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
    old.as("a").join(batch.as("b"), if (selfJoin) on && col("a.id") < col("b.id") else on)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** One row per document, from the native
    * [[graft.functions.MinHashLsh]] kernel: (id, buckets, sh,
    * set_size). `buckets(b)` is band b's bucket, bit-identical to
    * [[lshBucketsWide]] over [[minHashSignaturesWide]]; `sh`/`set_size`
    * are bit-identical to [[shingleSetRows]] over [[hashShingles]].
    * Null texts give no row, as in [[charShingles]]. Ids must be unique
    * per row: the grouped forms merge two rows' shingle sets under a
    * shared id, this form keeps them apart. */
  def lshDocs(df: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
      k: Int = 9, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), graft.functions.MinHashLsh.minHashLsh(
        col(textCol), numHashes, rowsPerBand, k).as("m"))
      .select(col("id"), col("m.buckets").as("buckets"), col("m.sh").as("sh"),
        col("m.set_size").as("set_size"))

  /** An [[lshDocs]] frame unrolled by ONE generator into
    * (id, band, bucket, sh, set_size): per document, one row per band
    * (sh and set_size null) and one set row (band -1, bucket null).
    * [[lshBuckets]] and [[lshSets]] both read it, so below the
    * generator both need every column: an exchange under it (the
    * pipelines' `repartition(id)`) is planned once and reused by every
    * consumer, and the kernel runs once per document. Projecting the
    * doc frame per consumer instead lets the optimizer prune each
    * consumer's columns below the exchange — two exchanges, and the
    * corpus signed twice. `stack`, not `posexplode`: an explode over
    * the buckets column makes the optimizer infer a `size(buckets) > 0`
    * filter and push it below the projection, re-running the kernel
    * inside the filter. */
  def lshRows(docs: DataFrame, nBands: Int): DataFrame = {
    val bands = (0 until nBands).map(b => s"$b, buckets[$b], null, null")
    docs.selectExpr("id", s"stack(${nBands + 1}, -1, null, sh, set_size, " +
      s"${bands.mkString(", ")}) AS (band, bucket, sh, set_size)")
  }

  /** [[lshRows]] of the text frame `df` behind one `repartition(id)`:
    * the exchange every consumer of the rows reuses. */
  private def lshRowsById(df: DataFrame, numHashes: Int, rowsPerBand: Int,
      k: Int, idCol: String, textCol: String): DataFrame =
    lshRows(lshDocs(df, numHashes, rowsPerBand, k, idCol, textCol)
      .repartition(col("id")), numHashes / rowsPerBand)

  /** The (id, band, bucket) rows of an [[lshRows]] frame — the
    * [[lshBucketsWide]] shape and types. */
  def lshBuckets(rows: DataFrame): DataFrame =
    rows.filter(col("band") >= 0).select("id", "band", "bucket")

  /** The (id, sh, set_size) rows of an [[lshRows]] frame — the
    * [[shingleSetRows]] shape and types. */
  def lshSets(rows: DataFrame): DataFrame =
    rows.filter(col("band") < 0).select("id", "sh", "set_size")

  /** Full MinHash-LSH near-dup pipeline: shingle, sign, band and
    * hash-set each document on its row ([[lshDocs]]) → candidate
    * self-join on (band, bucket) → exact Jaccard verify over the same
    * rows' sets. Pairs are bit-identical to
    * [[minHashLshPairsFromShingles]] over [[charShingles]]. The document
    * frame is repartitioned on id once; that exchange is the AQE reuse
    * point both arms of the self-join and both verify joins read back
    * (see [[lshRows]]). */
  def minHashLshPairs(df: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4, k: Int = 9,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rows = lshRowsById(df, numHashes, rowsPerBand, k, idCol, textCol)
    val buckets = lshBuckets(rows)
    verifyJaccardSets(bandCandidates(buckets, buckets, selfJoin = true),
      lshSets(rows), threshold)
  }

  /** The grouped MinHash-LSH pipeline over a prebuilt shingle frame:
    * explode-based signatures ([[minHashSignaturesWide]]) and verify
    * sets ([[shingleSetRows]]). This is the reference form the DuckDB
    * oracle SQL mirrors and the specs compare [[minHashLshPairs]]
    * against; it consumes the shingles three times (signatures + both
    * verify arms). For batch dedup from text, [[minHashLshPairs]] is
    * the faster path (BASELINE.md). */
  def minHashLshPairsFromShingles(shingles: DataFrame, threshold: Double,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val buckets = lshBucketsWide(
      minHashSignaturesWide(shingles, numHashes), numHashes, rowsPerBand)
    // verify over 64-bit shingle identities (see jaccardPairs) — the
    // string values were only needed for the md5 permutations above
    verifyJaccard(bandCandidates(buckets, buckets, selfJoin = true),
      hashShingles(shingles), threshold)
  }

  /** Exact Jaccard on candidate pairs only (joins bounded by the
    * candidate set, not all-pairs). */
  def verifyJaccard(candidates: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame = {
    // One aggregation builds each doc's full shingle set (charShingles
    // emits per-doc-distinct shingles, so the list IS the set and its
    // length the set size); the intersection is then a row-local
    // array_intersect over exactly the candidate pairs, instead of
    // re-exploding every pair into |set_a| shuffle rows (~450x the
    // pair count on the fixture corpus) before counting common
    // shingles. Together with 64-bit shingle identities this took the
    // full-corpus sf0.1 pipeline from 41 s to 20 s end-to-end. The
    // per-doc array is O(document length), the same order as the text
    // column itself, so the set frame carries scan-sized rows, never
    // pair-sized blowup.
    verifyJaccardSets(candidates, shingleSetRows(shingles), threshold)
  }

  /** Aggregate a (pre-hashed) shingle frame into the verify-side set
    * rows `(id, sh sorted, set_size)` — one row per doc, the format
    * [[verifyJaccardSets]] consumes and the standing index stores. */
  def shingleSetRows(hashedShingles: DataFrame): DataFrame =
    hashedShingles.groupBy("id")
      .agg(array_sort(collect_list("shingle")).as("sh"),
        count(lit(1)).as("set_size"))

  /** The set-join verify kernel over prebuilt per-doc arrays
    * `(id, sh, set_size)` — consumed directly by the row-local paths
    * ([[lshSets]] and [[hashedShingleSets]] build the frame map-only) and by
    * [[verifyJaccard]] after its aggregation. `sh` arrays must be
    * SORTED (both builders array_sort once per document): the
    * intersection is then a codegen'd two-cursor merge walk
    * ([[graft.functions.SortedIntersectSize]]) instead of
    * array_intersect's per-pair hash-set build — the per-pair cost
    * drops to zero allocation, and candidates touch each doc's array
    * many times so the one-time sort amortizes. */
  def verifyJaccardSets(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("set_size").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("set_size").as("size_b")), "id_b")
      .withColumn("n_common",
        graft.functions.SortedIntersectSize.sortedIntersectSize(
          col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  // ------------------------------------------------------- clustering

  /** Connected components over a near-dup pair graph — the step a
    * dedup pipeline needs AFTER pairs: transitively-linked documents
    * (A~B, B~C but never A~C) must land in ONE cluster so exactly one
    * survives. Hash-min label propagation: every vertex starts
    * labelled with its own id and repeatedly takes the min of its
    * neighbours' labels until fixpoint — O(component diameter)
    * rounds, each one equi-join + one groupBy, all distributed; the
    * driver only steers the loop and checks convergence (a 1-row
    * count), never holds vertices. Near-dup components are shallow
    * (stars around an original), so rounds stay in single digits even
    * at corpus scale; `maxIter` guards pathological chains and
    * non-convergence throws rather than returning a wrong labelling.
    *
    * Lineage is cut with an EAGER localCheckpoint each round —
    * iterative self-referencing plans otherwise grow the optimizer's
    * work exponentially with the round count.
    *
    * Output: (id, cluster_id = min id of the component), one row per
    * vertex that appears in `pairs`; unpaired documents are trivially
    * their own cluster and never enter the graph. */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nlabel"))
      val updated = labels.as("l")
        .join(neighborMin.as("n"), Seq("id"), "left")
        .select(col("id"),
          least(col("l.label"), coalesce(col("n.nlabel"), col("l.label")))
            .as("label"))
        .localCheckpoint(true)
      converged = updated.as("u")
        .join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("u.label") =!= col("old"))
        .isEmpty
      labels = updated
      i += 1
    }
    require(converged,
      s"nearDupClusters did not converge in $maxIter rounds — raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Keep exactly one document per near-dup cluster (the minimum id,
    * i.e. the cluster label): drops every vertex whose id differs from
    * its cluster_id; documents outside the pair graph pass through. */
  def keepOnePerCluster(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Quality-ranked keeper election — [[keepOnePerCluster]] keeps the
    * minimum id (reproducible but arbitrary); production recipes keep
    * the BEST copy of a near-dup cluster (the RefinedWeb rule: prefer
    * the cleaner/longer variant). Election key = one packed BIGINT,
    * (10000 − quality_bp)·10¹² + id: minimizing it takes the highest
    * [[TextAnalysis.qualityColumns]] composite first, lowest id on
    * ties — a single map-side-combining MIN per cluster, the
    * substring-span packed-min discipline (requires ids < 10¹²; the
    * quality score is basis-point-rounded per ROW before packing, so
    * both engines rank identically). Exact copies share text and
    * hence quality — there the election degenerates to min-id, which
    * is why this operator exists for NEAR-dup clusters. Unclustered
    * docs pass through untouched, like keepOne. */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val qbp = round(TextAnalysis.qualityColumns(col(textCol))
      .toMap.apply("quality_score") * 1e4).cast("long")
    val members = clusters.select(col("id").as(idCol), col("cluster_id"))
      .join(docs.select(col(idCol), qbp.as("q_bp")), idCol)
      .withColumn("packed",
        (lit(10000L) - col("q_bp")) * lit(1000000000000L) + col(idCol))
    val keepers = members.groupBy("cluster_id")
      .agg(min(col("packed")).as("kp"))
    val dropIds = members.join(keepers, "cluster_id")
      .filter(col("packed") =!= col("kp")).select(col(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------- SimHash

  /** 32-bit SimHash over lowercase whitespace tokens (frequency-
    * weighted — every occurrence votes ±1 per bit). Bit extraction and
    * reassembly use integer shifts only (a double round-trip would
    * corrupt the low bits of 60-bit hashes).
    *
    * All 32 bit-votes aggregate in ONE groupBy(id) pass (wide sum
    * columns combine map-side) instead of a 32× bit-explode — the
    * shuffle carries one 32-int row per doc per partition, not
    * 32·|tokens| rows. */
  def simHash(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simHashWith(df, idCol, textCol, md5Long)

  /** Production twin of [[simHash]] on the xxhash64 token-hash family
    * (a different but equally valid 32-bit SimHash instantiation —
    * DuckDB has no xxhash64, so the md5 form stays the oracle-gated
    * twin). Same single wide bit-vote aggregation. */
  def simHashXx(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simHashWith(df, idCol, textCol, xxhash64(_))

  private def simHashWith(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column, bits: Int = 32): DataFrame = {
    val votes = (0 until bits).map(j =>
      sum(when(expr(s"(shiftright(h60, $j) & 1)") === 1, lit(1))
        .otherwise(lit(-1))).as(s"v_$j"))
    val assemble = (0 until bits).map(j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokensWs(lower(col(textCol)))).as("token"))
      .withColumn("h60", tokenHash(col("token")))
      .groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), assemble.as("simhash"))
  }

  /** 64-bit xxhash64 SimHash — the CORPUS-SIZED production fingerprint.
    * The 32-bit form's 4×8-bit blocking bands hold only 256 buckets
    * each: once a corpus outgrows ~2^8·√(pairs-per-bucket-budget), the
    * Σ|bucket|² candidate mass goes quadratic REGARDLESS of content
    * (measured: the r6 sf1 decade step ran 12.7× for 10× data). The
    * same pigeonhole guarantee over 64 bits gives 4×16-bit bands —
    * 65,536 buckets each, 256× less chance-collision mass — so the
    * fingerprint width, not the band count, is the scale knob: size
    * 2^(bits/4) ≫ corpus. xxhash64's full 64-bit token hashes drive
    * the votes (the md5 32-bit twin stays the DuckDB-oracle form).
    * Note hamming ≤ 3 over 64 bits is a stricter relative similarity
    * than over 32 — the 64-bit contract is the production one. */
  def simHash64Xx(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simHashWith(df, idCol, textCol, xxhash64(_), bits = 64)

  /** Near-pairs over [[simHash64Xx]] fingerprints: hamming ≤ 3 pairs
    * must agree on one of the 4 16-bit bands (pigeonhole) — the same
    * equi-join blocking as [[simHashNearPairs]] with 65,536 buckets
    * per band instead of 256. The arithmetic shiftright's sign-fill on
    * the top band is masked off by `& 65535`. */
  def simHashNearPairs64(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = hashes.withColumn("bi", explode(sequence(lit(0), lit(3))))
      .withColumn("bv", expr("shiftright(simhash, bi * 16) & 65535"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.simhash").as("sh_a"),
        col("b.id").as("id_b"), col("b.simhash").as("sh_b")).distinct()
    cand.withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** THE production SimHash near-dup pair search: 64-bit xxhash64
    * fingerprints ([[simHash64Xx]]) blocked on 4×16-bit bands
    * ([[simHashNearPairs64]]). This is the entry point a
    * corpus-scale caller should take — the 32-bit
    * [[simHash]]/[[simHashNearPairs]] family exists for DuckDB oracle
    * bit-parity and its 256-bucket bands were MEASURED going 12.7× at
    * the r6 sf1 decade step, exactly the curve a 100× corpus must not
    * inherit (the 64-bit form ran 2.0×). LlmSpec pins the banded
    * 64-bit search == brute-force hamming on the fixture corpus. */
  def simHashNearDups(df: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simHashNearPairs64(simHash64Xx(df, idCol, textCol), maxHamming)

  /** SimHash near-pairs with 8-bit band blocking: pairs at hamming ≤ 3
    * must agree on one of the 4 bytes (pigeonhole), so candidates come
    * from equi-joins on (byte_index, byte_value) — shuffle-on-key, no
    * all-pairs.
    *
    * ORACLE TWIN, not the production default: 8-bit bands hold 256
    * buckets and saturate once n ≫ 2^8 (measured 12.7× at one decade).
    * Production pair search is [[simHashNearDups]] (64-bit, 16-bit
    * bands); this form stays for the md5/32-bit DuckDB gate. */
  def simHashNearPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = hashes.withColumn("bi", explode(sequence(lit(0), lit(3))))
      .withColumn("bv", expr("shiftright(simhash, bi * 8) & 255"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.simhash").as("sh_a"),
        col("b.id").as("id_b"), col("b.simhash").as("sh_b")).distinct()
    cand.withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------- embedding-cosine near-dups

  /** Exact cosine on micro-scaled integer embeddings: elements are
    * quantized once to round(e·1e6) longs, all dot products and norms
    * are exact integer sums (associative — partitioning-independent),
    * and the only float ops are the final sqrt/divide, a fixed IEEE
    * sequence. Input: (id, i, e_micro) exploded embeddings.
    *
    * ALL-PAIRS (dim-index join): the exhaustive fallback for small
    * frames; use [[cosineNearDupPairs]] at scale. */
  def cosinePairsMicro(elems: DataFrame, threshold: Double): DataFrame = {
    val norms = elems.groupBy("id")
      .agg(sum(col("e_micro") * col("e_micro")).as("norm2"))
    val dots = elems.as("a").join(elems.as("b"),
        col("a.i") === col("b.i") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.e_micro") * col("b.e_micro")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("norm2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm2").as("nb")), "id_b")
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Sign-LSH band buckets over exploded micro-int embeddings: plane
    * p's weight for dim i is (md5_60("p:i") mod 2001) − 1000 (the same
    * deterministic family as [[Similarity.hyperplaneBucket]], but
    * computed by ONE wide groupBy(id) over the exploded elements — all
    * nBands·bitsPerBand projections sum map-side in a single shuffle).
    * The weight matrix is precomputed driver-side
    * ([[Similarity.hyperplaneWeightsLong]], the proven md5 twin) and
    * inlined as literal arrays: the expression form re-derived the md5
    * per (element row × plane) — nBands·bitsPerBand·dims hashes per
    * vector, pure waste at corpus scale. `dims` bounds the index
    * domain of `i` (the embedding schema fixes it); an element row
    * with i outside 1..dims fails LOUDLY (raise_error via coalesce)
    * instead of being silently skipped by sum()'s null handling,
    * which would quietly shrink candidate recall on wider vectors.
    * Output: (id, band, bucket) — near-identical vectors land in the
    * same bucket of EVERY band with high probability, so multi-band
    * candidate recall at cosine ≥ 0.9 is effectively total. */
  def signBandBuckets(elems: DataFrame, nBands: Int = 4,
      bitsPerBand: Int = 8, dims: Int = 64): DataFrame = {
    val planes = nBands * bitsPerBand
    val weights = Similarity.hyperplaneWeightsLong(planes, dims)
    val projs = (0 until planes).map { p =>
      sum(col("e_micro") *
        coalesce(element_at(typedLit(weights(p).toSeq), col("i").cast("int")),
          raise_error(concat(lit(s"signBandBuckets: dim index outside 1..$dims: "),
            col("i").cast("string"))).cast("long")))
        .as(s"p_$p")
    }
    val wide = elems.groupBy("id").agg(projs.head, projs.tail: _*)
    val bands = (0 until nBands).map { b =>
      val bits = (0 until bitsPerBand).map { k =>
        when(col(s"p_${b * bitsPerBand + k}") > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    wide.select(col("id"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Exact micro-int cosine on candidate pairs only — the verify kernel
    * of [[cosineNearDupPairs]]; join cost is bounded by |candidates|·64,
    * never all-pairs. */
  def verifyCosine(candidates: DataFrame, elems: DataFrame,
      threshold: Double): DataFrame = {
    val norms = elems.groupBy("id")
      .agg(sum(col("e_micro") * col("e_micro")).as("norm2"))
    val dots = candidates
      .join(elems.select(col("id").as("id_a"), col("i"),
        col("e_micro").as("ea")), "id_a")
      .join(elems.select(col("id").as("id_b"), col("i"),
        col("e_micro").as("eb")), Seq("id_b", "i"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("ea") * col("eb")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("norm2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("norm2").as("nb")), "id_b")
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding near-duplicates at scale: sign-LSH band buckets generate
    * candidates via an equi-join on (band, bucket) — the same
    * candidate-then-verify shape as [[minHashLshPairs]] — then the
    * exact integer cosine kernel verifies only those pairs. Replaces
    * the dim-index join of [[cosinePairsMicro]] (N²/64 at scale).
    *
    * Recall contract: candidates are probabilistic. A pair at cosine θ
    * collides in one band with prob (1 − θ_angle/π)^bitsPerBand and is
    * found if ANY band matches; near-identical pairs (the dedup target)
    * are found essentially surely, while pairs marginally at the
    * threshold can be missed — raise nBands (or fall back to
    * [[cosinePairsMicro]]) when exact-threshold recall matters. The
    * fixture gate pins LSH output == all-pairs output on the shipped
    * corpus (LlmSpec + DuckDB hash gate at both SFs).
    *
    * DEFAULT PARAMETERS ARE CORPUS-SIZED: nBands/bitsPerBand ≤ 0 (the
    * default) derives (bands, bits) from the corpus via ONE
    * approx_count_distinct pass and [[scaledSignLshParams]] — the
    * r6 sf1 decade measured the old fixed 4×8 default going 19.3× for
    * 10× data (256 buckets/band saturate once n ≫ 2^8) while the
    * sized form ran 4.7×; a 100×-scale caller taking defaults must
    * inherit the sized curve, not the quadratic one. Sizing needs only
    * log2(n), so the ±2% approximate count can never move bits by more
    * than the rounding already allows. Pass both params explicitly to
    * pin an exact configuration (the DuckDB-gated fixture twins do). */
  def cosineNearDupPairs(elems: DataFrame, threshold: Double,
      nBands: Int = 0, bitsPerBand: Int = 0, dims: Int = 64): DataFrame = {
    val (bands, bits) =
      if (nBands > 0 && bitsPerBand > 0) (nBands, bitsPerBand)
      else autoSignLshParams(elems)
    val buckets = signBandBuckets(elems, bands, bits, dims)
    val candidates = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyCosine(candidates, elems, threshold)
  }

  /** Corpus-sized sign-LSH parameters for [[cosineNearDupPairs]] (and
    * what its ≤0 defaults resolve through): the
    * legacy fixed 4 bands × 8 bits holds only 256 buckets per band, so on
    * vectors WITHOUT near-dup structure the chance-collision mass
    * Σ|bucket|² ≈ nBands·n²/2^bits goes quadratic once n ≫ 2^8
    * (measured: the r6 sf1 decade step ran 19× for 10× data at the
    * fixed default). Size bits so 2^bits tracks the corpus
    * (bits ≈ log2 n − 3, floor 8 — at n ≤ 2k this IS the default) and
    * double the bands when widening: per-band recall at angle θ is
    * (1−θ/π)^bits, so extra bands buy back what extra bits cost — at
    * cosine 0.9 (θ/π = 0.144), 8 bands × 12 bits keeps 74% any-band
    * recall ≈ the default 4×8's 74.5% while carrying 8× less
    * chance-collision mass at n = 20k. Near-identical pairs (the dedup
    * target, cosine ≥ 0.99) stay ≥ 99% at either setting; marginal-
    * threshold recall erodes as bits grow with the corpus — raise
    * nBands further (cost is linear) when exact-threshold recall
    * matters at scale.
    *
    * WORST-CASE DECADE BOUND (r9, the documented integer-bit
    * granularity): bits move in whole steps while linearity wants
    * log2 10 ≈ 3.32 per decade, so the chance-collision mass
    * nBands·n²/2^bits steps 100/2^Δbits per 10× of corpus with
    * Δbits ∈ {3, 4} (÷2 once more at the single 4→8 band widening):
    * 12.5× in a Δ=3 decade, 6.25× in a Δ=4 decade — worst case
    * 1.25× ABOVE exact linear for one decade, 0.625× below in the
    * compensating one, long-run exactly linear (the deficit
    * bits − (log2 n − 3) is confined to [0, 1)). The shipped fixture's
    * n-sequence (2k → 20k → 200k → 2M) happens to land Δ=3 three times
    * in a row (bits 8 → 12 → 15 → 18), so its measured curve sits on
    * the 12.5× edge of the band (bench_cosine_scaled_full 12.9× at
    * sf10 — BASELINE.md r9 confirms the residual over 12.5× is run
    * context, not sizing); the first compensating Δ=4 decade arrives
    * at n = 20M. Accepting the ±25% oscillation is the design choice:
    * smoothing it (mixed-width bands interpolating fractional bits)
    * buys back at most 1.25× in the worst decade at the cost of a
    * second banding family in every probe/writer pair. */
  def scaledSignLshParams(n: Long): (Int, Int) = {
    val bits = math.max(8,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2)).toInt - 3)
    (if (bits > 8) 8 else 4, bits)
  }

  /** What the ≤0 defaults of [[cosineNearDupPairs]] resolve to: one
    * approx_count_distinct(id) pass over the element frame routed
    * through [[scaledSignLshParams]]. Approximate is sufficient — the
    * sizing consumes only ⌈log2 n⌉, so HLL's ±2% can shift bits only
    * where exact rounding already could. */
  def autoSignLshParams(elems: DataFrame): (Int, Int) =
    scaledSignLshParams(
      elems.agg(approx_count_distinct(col("id"))).head.getLong(0))

  // ------------------------------- incremental (batch-vs-corpus) dedup

  /** Incremental MinHash-LSH near-dup detection — the production dedup
    * shape once a corpus is live: an existing corpus is signed/banded
    * once, and each new ingest batch is signed and joined against the
    * corpus buckets ONLY (old×new band equi-join, never old×old), so
    * per-batch candidate work scales with the BATCH, not the corpus —
    * at 100 TB the corpus-side bucket frame is a standing table the
    * batch probes. Exact re-ingests always collide (identical shingle
    * sets ⇒ identical signatures in every band), so recall on verbatim
    * copies is 1; near-dups carry the usual LSH banding recall. Doc
    * ids must be disjoint across the two frames. Output:
    * (id_a = existing doc, id_b = new doc, jaccard ≥ threshold).
    * Reference twin: none (batch reruns from scratch per study);
    * north-star §2.E. */
  def incrementalLshPairs(oldDf: DataFrame, newDf: DataFrame,
      threshold: Double, numHashes: Int = 16, rowsPerBand: Int = 4,
      k: Int = 9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val oldRows = lshRowsById(oldDf, numHashes, rowsPerBand, k, idCol, textCol)
    val newRows = lshRowsById(newDf, numHashes, rowsPerBand, k, idCol, textCol)
    val candidates = bandCandidates(lshBuckets(oldRows), lshBuckets(newRows),
      selfJoin = false)
    verifyJaccardSets(candidates,
      lshSets(oldRows).unionByName(lshSets(newRows)), threshold)
  }

  /** Persist the STANDING dedup index of a live corpus — sign once,
    * store, probe per ingest batch; at 100 TB the corpus is hashed
    * exactly once in its lifetime:
    *  - `<prefix>_buckets` (id, band, bucket), bucketed on the
    *    candidate-join key (band, bucket): a batch probe shuffles only
    *    the batch side — the stored scan's bucketing satisfies the
    *    join's distribution (LlmSpec asserts the single exchange);
    *  - `<prefix>_sets` (id, sh, set_size), the sorted hashed-shingle
    *    rows the exact-Jaccard verify consumes, bucketed on id.
    * Bucket count should match `spark.sql.shuffle.partitions` so the
    * probe-side exchange lands bucket-aligned. */
  def writeDedupIndex(corpus: DataFrame, prefix: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, k: Int = 9,
      numBuckets: Int = 32, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val rows = lshRows(lshDocs(corpus, numHashes, rowsPerBand, k, idCol,
      textCol), numHashes / rowsPerBand)
    graft.sources.Ingest.writeBucketedTable(lshBuckets(rows),
      s"${prefix}_buckets", Seq("band", "bucket"), numBuckets)
    graft.sources.Ingest.writeBucketedTable(lshSets(rows),
      s"${prefix}_sets", Seq("id"), numBuckets)
  }

  /** Probe the standing index with a new ingest batch: the batch's
    * [[lshDocs]] rows → banded buckets equi-joined against the STORED
    * bucket table; exact-Jaccard verify against the STORED set rows ∪
    * the batch's fresh sets. Output is identical to
    * [[incrementalLshPairs]] over (indexed corpus, batch) — LlmSpec
    * pins the equality — but the corpus pays no signature or shingle
    * work at probe time. */
  def incrementalLshPairsFromIndex(prefix: String, newDf: DataFrame,
      threshold: Double, numHashes: Int = 16, rowsPerBand: Int = 4,
      k: Int = 9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = newDf.sparkSession
    val oldBuckets = spark.table(s"${prefix}_buckets")
    val oldSets = spark.table(s"${prefix}_sets")
    val newRows = lshRowsById(newDf, numHashes, rowsPerBand, k, idCol, textCol)
    val candidates = bandCandidates(oldBuckets, lshBuckets(newRows),
      selfJoin = false)
    verifyJaccardSets(candidates, oldSets.unionByName(lshSets(newRows)),
      threshold)
  }

  /** Incremental sign-LSH near-dup detection over embeddings — the
    * dense-vector twin of [[incrementalLshPairs]]: the existing corpus
    * and the ingest batch are projected under the SAME plane family,
    * candidates come from the old×new (band, bucket) equi-join ONLY
    * (never old×old — per-batch candidate work scales with the batch),
    * and the exact integer cosine kernel verifies each candidate
    * against the union's element rows. Ids must be disjoint across the
    * two frames. Parameters ≤ 0 auto-size from the CORPUS side
    * ([[autoSignLshParams]] — the corpus is what saturates buckets;
    * the standing-index form pins the same parameters in its `_meta`
    * table). Output: (id_a = existing, id_b = new, cosine ≥
    * threshold). Oracle-gated as `dedup_embedding_incremental` (the
    * all-pairs cross-restricted cosine in DuckDB). */
  def incrementalCosinePairs(oldElems: DataFrame, newElems: DataFrame,
      threshold: Double, nBands: Int = 0, bitsPerBand: Int = 0,
      dims: Int = 64): DataFrame = {
    val (bands, bits) =
      if (nBands > 0 && bitsPerBand > 0) (nBands, bitsPerBand)
      else autoSignLshParams(oldElems)
    val oldBuckets = signBandBuckets(oldElems, bands, bits, dims)
    val newBuckets = signBandBuckets(newElems, bands, bits, dims)
    val candidates = oldBuckets.as("a").join(newBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyCosine(candidates, oldElems.unionByName(newElems), threshold)
  }

  /** Persist the STANDING sign-LSH index of a live embedding corpus —
    * the dense-vector twin of [[writeDedupIndex]], so incremental
    * ingest dedup covers embedding near-dups as well as lexical ones.
    * Input is the exploded micro-int element frame (id, i, e_micro);
    * written tables:
    *  - `<prefix>_buckets` (id, band, bucket) from [[signBandBuckets]],
    *    bucketed on the candidate-join key (band, bucket) — a batch
    *    probe shuffles only the batch side (LlmSpec asserts the single
    *    join-key exchange, the [[writeDedupIndex]] contract);
    *  - `<prefix>_elems` the element rows, bucketed on id for the
    *    exact-cosine verify joins;
    *  - `<prefix>_meta` one row (n_bands, bits_per_band, dims): the
    *    LSH parameters are pinned AT INDEX TIME — corpus-sized via
    *    [[autoSignLshParams]] when left ≤ 0 — and the probe reads them
    *    back, so writer and prober cannot silently disagree on the
    *    projection family. */
  def writeCosineIndex(elems: DataFrame, prefix: String,
      nBands: Int = 0, bitsPerBand: Int = 0, dims: Int = 64,
      numBuckets: Int = 32): Unit = {
    val (bands, bits) =
      if (nBands > 0 && bitsPerBand > 0) (nBands, bitsPerBand)
      else autoSignLshParams(elems)
    graft.sources.Ingest.writeBucketedTable(
      signBandBuckets(elems, bands, bits, dims),
      s"${prefix}_buckets", Seq("band", "bucket"), numBuckets)
    graft.sources.Ingest.writeBucketedTable(
      elems.select(col("id"), col("i"), col("e_micro")),
      s"${prefix}_elems", Seq("id"), numBuckets)
    val spark = elems.sparkSession
    import spark.implicits._
    graft.sources.Ingest.writeManagedTable(
      Seq((bands, bits, dims)).toDF("n_bands", "bits_per_band", "dims"),
      s"${prefix}_meta")
  }

  /** Probe the standing sign-LSH index with a new ingest batch of
    * exploded micro-int elements: batch buckets (under the parameters
    * read back from `<prefix>_meta`) equi-join the STORED bucket table
    * — strictly old×new, never old×old — then the exact integer cosine
    * kernel verifies each candidate against the stored elements ∪ the
    * batch's own. Output is identical to [[cosineNearDupPairs]]
    * restricted to cross pairs over (indexed ∪ batch) — LlmSpec pins
    * equality with a whole-frame run — but the corpus pays no
    * projection work at probe time. Ids must be disjoint across index
    * and batch; each pair's verify consults only that pair's element
    * rows, so per-batch outputs union to the whole-ingest probe on ANY
    * micro-batch split (the [[incrementalLshPairsFromIndex]]
    * batch-equivalence contract; the streaming form is
    * [[graft.streaming.Streams.startCosineIndexProbe]]). */
  def cosineNearDupPairsFromIndex(prefix: String, newElems: DataFrame,
      threshold: Double): DataFrame = {
    val spark = newElems.sparkSession
    val meta = spark.table(s"${prefix}_meta").head()
    val (bands, bits, dims) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val oldBuckets = spark.table(s"${prefix}_buckets")
    val oldElems = spark.table(s"${prefix}_elems")
    val newBuckets = signBandBuckets(newElems, bands, bits, dims)
    val candidates = oldBuckets.as("a").join(newBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyCosine(candidates,
      oldElems.unionByName(newElems.select("id", "i", "e_micro")), threshold)
  }

  // ----------------------- exact duplicated-substring spans (Lee et al.)

  /** Case-sensitive whitespace token arrays: (id, toks). Substring
    * dedup must not merge spans that differ in case, so no lower(). */
  private def tokenArrays(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("toks"))

  /** One row per length-`n` token window: (id, start [1-based], gh =
    * md5 of the space-joined window). Row-local (map-only): the
    * corpus×n blowup every exact-substring-dedup algorithm pays
    * happens inside a projection and is immediately reduced by the
    * gram election — the shuffle carries (id, start, 32-char hash)
    * rows, never the window text. Docs shorter than `n` tokens emit
    * nothing. */
  def tokenGramOccurrences(df: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("toks"), i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    tokenArrays(df, idCol, textCol)
      .select(col("id"), posexplode(grams).as(Seq("p", "gh")))
      .select(col("id"), (col("p") + 1).as("start"), col("gh"))
  }

  /** Duplicated-substring spans, the relational re-expression of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499): every length-`n` whitespace-token
    * window occurring more than once ANYWHERE in the corpus is a
    * duplicated span at all but its first site; the first site —
    * lexicographic minimum (doc_id, start), packed into one BIGINT so
    * the election is a single map-side-combining min() per gram hash —
    * survives, exactly one copy of every repeated passage. Overlapping
    * or adjacent span occurrences are coalesced per doc
    * (gaps-and-islands over the (id)-partitioned window — per-doc
    * partitions, bounded by tokens-per-doc, never corpus-wide).
    * Replaces the reference algorithm's suffix array with two
    * key-partitioned shuffles: gram-hash election + per-doc merge.
    * Output: (id, s, e) merged token ranges, 1-based inclusive.
    * Packing bound: token starts must be < 1,000,000 (any real doc). */
  def duplicatedSpans(df: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val occ = tokenGramOccurrences(df, n, idCol, textCol)
    val packed = occ.withColumn("packed",
      col("id") * lit(1000000L) + col("start"))
    val dups = packed
      .withColumn("min_packed", min("packed").over(Window.partitionBy("gh")))
      .filter(col("packed") =!= col("min_packed"))
      .select(col("id"), col("start").as("s"),
        (col("start") + (n - 1)).as("e"))
    val ord = Window.partitionBy("id").orderBy("s", "e")
    val prevMax = max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    dups
      .withColumn("ni",
        when(col("s") > coalesce(prevMax, lit(-1000000L)) + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum("ni").over(ord))
      .groupBy(col("id"), col("island"))
      .agg(min("s").as("s"), max("e").as("e"))
      .select("id", "s", "e")
  }

  /** Per-doc duplicated-substring report: merged span count, tokens
    * covered, and the doc's token count. Docs with no duplicated span
    * are absent (the report is the curation FLAG list, not a corpus
    * rewrite — join it back for a fraction filter). */
  def substringSpanStats(df: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sizes = tokenArrays(df, idCol, textCol)
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
    duplicatedSpans(df, n, idCol, textCol)
      .groupBy("id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("n_dup_tokens"))
      .join(sizes, "id")
      .select(col("id").as("doc_id"), col("n_dup_spans"),
        col("n_dup_tokens"), col("n_tokens"))
  }

  /** Corpus rewrite dropping every token covered by a merged
    * duplicated span — all but the first occurrence of every repeated
    * ≥`n`-token passage is physically removed, the Lee et al. ExactSubstr
    * outcome. Span application is ROW-LOCAL: merged spans are collected
    * per doc (bounded by tokens/n), equi-joined back, and applied with
    * an indexed array filter — no per-token shuffle. Whitespace is
    * normalized to single spaces (tokens rejoined); docs whose every
    * token is covered (verbatim full copies) are dropped entirely. */
  def removeDuplicatedSpans(df: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = duplicatedSpans(df, n, idCol, textCol)
      .groupBy("id").agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    tokenArrays(df, idCol, textCol)
      .join(spans, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        when(col("spans").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (t, i) =>
              !exists(col("spans"), sp =>
                (i + 1) >= sp.getField("s") && (i + 1) <= sp.getField("e")))))
          .as("cleaned"))
      .filter(length(col("cleaned")) > 0)
  }

  // --------------------------------------------------- fixture corpus

  /** Deterministic dedup corpus: base docs ∪ near-dup variants
    * (id+10000, a marker tail appended, every 5th doc) ∪ exact copies
    * (id+20000, every 7th doc). Mirrored literally in oracle SQL. */
  def fixtureCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft near dup tail")).as("text"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"))
    base.unionByName(near).unionByName(copies)
  }

  /** [[fixtureCorpus]] with CORPUS-DERIVED variant id offsets — the
    * bench-scale twin. The gated fixture's literal +10000/+20000 stays
    * (it is mirrored verbatim in oracle SQL and provably disjoint at
    * the `doc_id < 200` gate clamp), but on the UNclamped corpus those
    * literals collide with base ids once the corpus exceeds 10k docs
    * (sf ≥ 1: ids to 49,999/499,999) — two documents then share one id
    * and every per-id set union downstream (shingle frames, element
    * frames, signature groupBys) silently merges them, the same
    * corruption class the r7 verdict caught in the +50000 probe batch.
    * Here near variants take max(doc_id)+1+doc_id and exact copies
    * 2·(max(doc_id)+1)+doc_id: disjoint at every scale by
    * construction, one cheap single-column agg to derive. Same doc
    * SETS as [[fixtureCorpus]] at any scale — only variant id labels
    * differ. */
  def fixtureCorpusScaled(docs: DataFrame): DataFrame = {
    val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val base = docs.select(col("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + lit(off)).as("doc_id"),
        concat(col("text"), lit(" graft near dup tail")).as("text"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2L * off)).as("doc_id"), col("text"))
    base.unionByName(near).unionByName(copies)
  }

  // ------------------------------------------------ bloom-probe dedup

  /** Bloom-filter batch-vs-corpus EXACT dedup — the sketch member of
    * the incremental family ([[incrementalLshPairs]] is the near-dup
    * shape): the standing corpus is summarized ONCE into a bits-sized
    * Bloom filter over xxhash64(text) (one mergeable scan-only
    * aggregate — Spark's own BloomFilterAggregate via
    * [[graft.functions.BloomSketch]]), the sketch travels to the
    * batch as a literal, and the probe is a MAP-ONLY filter: a batch
    * doc the sketch rejects (bloom has no false negatives) never
    * joins anything; only the flagged subset — true members plus the
    * bounded false-positive residue — pays the exact md5 join. At
    * 100 TB the corpus is summarized once into a reusable artifact
    * (persist `bloomBytesFor`'s output beside [[writeDedupIndex]]),
    * and per-batch cost is one map-only probe plus a join whose
    * probe side is |members|+|fp| rows, NOT |batch|.
    *
    * Correctness is bloom-INDEPENDENT, and that is exactly what the
    * oracle gates: a false positive is killed by the exact verify; a
    * false negative cannot exist — if the sketch ever missed a
    * member, the emitted `is_dup` would flip and the DuckDB EXISTS
    * twin would hash-mismatch. */
  def bloomProbeDedup(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bloom = bloomBytesFor(corpus, expectedItems, numBits, textCol)
    val probed = batch.select(col(idCol), col(textCol),
      graft.functions.BloomSketch
        .mightContain(bloom, xxhash64(col(textCol))).as("flagged"))
    val rejected = probed.filter(!col("flagged"))
      .select(col(idCol), lit(false).as("is_dup"))
    val corpusHashes = corpus
      .select(md5(col(textCol)).as("corpus_h")).distinct()
    val verified = probed.filter(col("flagged"))
      .join(corpusHashes, md5(col(textCol)) === col("corpus_h"), "left")
      .select(col(idCol), col("corpus_h").isNotNull.as("is_dup"))
    rejected.unionByName(verified)
  }

  /** The corpus's serialized content-membership sketch (collect is
    * one binary row — config-scale, like trained centroids). */
  def bloomBytesFor(corpus: DataFrame, expectedItems: Long,
      numBits: Long, textCol: String = "text"): Array[Byte] =
    corpus.agg(graft.functions.BloomSketch.bloomAgg(
        xxhash64(col(textCol)), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")

  // ------------------------------- content-defined chunking dedup

  /** Content-defined chunking — the rsync/LBFS/FastCDC family reduced
    * to its relational core: a k-gram position is a CUT iff its
    * 60-bit [[md5Long]] hash ≡ 0 (mod 2^maskBits) (expected chunk
    * length ≈ 2^maskBits chars), and chunks are the substrings between
    * cuts. Cut decisions depend only on LOCAL content, so an edit
    * reshapes just the chunks it touches and chunking RE-SYNCS at the
    * next cut — the property fixed-width blocking lacks, and what
    * makes chunk-hash dedup effective across near-identical crawl
    * snapshots/page revisions. Production FastCDC adds min/max chunk
    * bounds (normalized chunking — a sequential constraint); the pure
    * cut rule keeps every step row-local (k-gram hash array
    * materialized FIRST — the HOF-capture discipline — then cuts,
    * then spans), so chunking parallelizes per document at any corpus
    * scale, and the md5 family keeps the DuckDB twin bit-identical.
    * Docs shorter than k are one whole-doc chunk. Output: one row per
    * chunk — (id, chunk_id, chunk_start, n_chunk_chars, chunk_md5). */
  def cdcChunks(df: DataFrame, k: Int = 9, maskBits: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    // ONE native pass per document for the cut set (char offsets once,
    // k chars digested per window — O(len·k)). The transform+substring
    // DataFrame form this replaces was O(len²) interpreted, and the
    // optimizer's inferred generate filter (size(spans) > 0 pushed
    // below this projection) re-derived it per lambda element —
    // O(len³)/doc, a measured 35-CPU-minute straggler at sf0.1. With
    // the cut set native, that same inlining costs one extra linear
    // pass. See [[graft.functions.CdcCutPositions]].
    val withCuts = df.select(col(idCol), text.as("__t"),
      graft.functions.CdcCutPositions.cdcCutPositions(text, k, maskBits)
        .as("__cuts"))
    val spans = withCuts
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__cuts"), c => c + k)))
      .withColumn("__ends",
        concat(transform(col("__cuts"), c => c + (k - 1)),
          array(length(col("__t")))))
      .withColumn("__spans",
        filter(zip_with(col("__starts"), col("__ends"),
            (s0, e0) => struct(s0.as("s"), e0.as("e"))),
          p => p.getField("s") <= p.getField("e")))
    spans
      .select(col(idCol), col("__t"),
        posexplode(col("__spans")).as(Seq("chunk_id", "sp")))
      .select(col(idCol), col("chunk_id"),
        col("sp.s").as("chunk_start"),
        (col("sp.e") - col("sp.s") + 1).as("n_chunk_chars"),
        md5(col("__t").substr(col("sp.s"),
          col("sp.e") - col("sp.s") + 1)).as("chunk_md5"))
  }

  /** Chunk-level dedup report over [[cdcChunks]] — the storage-dedup
    * number an incremental crawl store cares about: per document, how
    * many of its chunks (and chars) also occur in at least one OTHER
    * document. One chunk-key groupBy counts carrier docs (chunk
    * hashes are near-unique outside true duplication, so the key is
    * unskewed), one chunk-key equi-join back, one per-doc groupBy —
    * no all-pairs anywhere. */
  def cdcDedupReport(df: DataFrame, k: Int = 9, maskBits: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ch = cdcChunks(df, k, maskBits, idCol, textCol)
    val occ = ch.groupBy("chunk_md5")
      .agg(countDistinct(col(idCol)).as("n_docs"))
    ch.join(occ, "chunk_md5")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L))
          .as("n_shared_chunks"),
        sum(col("n_chunk_chars").cast("long")).as("n_chars"),
        sum(when(col("n_docs") > 1, col("n_chunk_chars").cast("long"))
          .otherwise(0L)).as("n_shared_chars"))
  }

  // --------------------------------------------------- fixture queries

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Subset keeping fixture-query cost scale-invariant. */
  private def docsSmall(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") < 200)

  private val dedupExact: Q = (s, dir) =>
    exactGroups(fixtureCorpus(docs(s, dir)))
      .orderBy("keep_id")

  /** Planted near-identical revisions for the CDC keys: every 4th doc
    * gains an edited twin with an 11-char prefix insertion — chunking
    * must RE-SYNC after the first cut, so most twin chunks dedup
    * against the base (the fixed-width-blocking failure case). */
  private def cdcCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = docsSmall(s, dir).select(col("doc_id"), col("text"))
    val twins = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 70000).as("doc_id"),
        concat(lit("EDITPREFIX "), col("text")).as("text"))
    base.unionByName(twins)
  }

  private val dedupCdcChunks: Q = (s, dir) =>
    cdcChunks(cdcCorpus(s, dir)).orderBy("doc_id", "chunk_id")

  private val dedupCdcReport: Q = (s, dir) =>
    cdcDedupReport(cdcCorpus(s, dir)).orderBy("doc_id")

  /** Normalization-aware exact dedup: group on the md5 of the
    * NFC-normalized, whitespace-collapsed text
    * ([[TextAnalysis.normalizeText]]) so copies that differ only in
    * Unicode form or whitespace run length — invisible to byte-exact
    * [[exactGroups]], endemic in web-crawled corpora — collapse into
    * one group. Fixture plants both variant classes (a decomposed
    * combining-mark twin and a double-spaced twin of every 6th doc);
    * the oracle normalizes with DuckDB's nfc_normalize + the same
    * dialect-safe regex chain. Same one-groupBy scale shape as the
    * byte-exact form. */
  private val dedupExactNormalized: Q = (s, dir) => {
    val base = docsSmall(s, dir).select(col("doc_id"), col("text"))
    val nfcTwins = base.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("text"))
    val spaceTwins = base.filter(col("doc_id") % 6 === 3)
      .select((col("doc_id") + 50000).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"))
    val corpus = base.unionByName(nfcTwins).unionByName(spaceTwins)
    // the NFC twin is NOT a normalized-duplicate of its base (é ≠ e);
    // it IS a normalized-duplicate of itself in precomposed form — so
    // plant the precomposed twin too and the pair must collapse
    val nfcPre = base.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 60000).as("doc_id"),
        regexp_replace(col("text"), "e", "\u00e9").as("text"))
    corpus.unionByName(nfcPre)
      .groupBy(md5(TextAnalysis.normalizeText(col("text")))
        .as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  /** Fixture shingle-frequency cap: candidate generation drops shingles
    * appearing in more than this many docs (the oracle's all-pairs
    * answer is unchanged as long as every qualifying pair also shares a
    * rarer shingle — verified by the hash gate). */
  val fixtureShingleDfCap = 20

  private val dedupJaccard: Q = (s, dir) =>
    jaccardPairs(charShingles(fixtureCorpus(docsSmall(s, dir))), 0.5,
        fixtureShingleDfCap)
      .orderBy("id_a", "id_b")

  /** Containment fixture: the dedup corpus plus QUOTE docs (id+40000,
    * every 13th base doc's first 80 chars) — shingle subsets of their
    * source, so containment ≈ 1 while Jaccard stays far below any
    * near-dup threshold. Mirrored literally in the oracle. */
  private def quoteCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = fixtureCorpus(docsSmall(s, dir))
    val quotes = docsSmall(s, dir).filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        substring(col("text"), 1, 80).as("text"))
    base.unionByName(quotes)
  }

  private val dedupContainment: Q = (s, dir) =>
    containmentPairs(charShingles(quoteCorpus(s, dir)), 0.9,
        fixtureShingleDfCap)
      .orderBy("id_a", "id_b")

  private val dedupMinHashLsh: Q = (s, dir) =>
    minHashLshPairs(fixtureCorpus(docsSmall(s, dir)), 0.5)
      .orderBy("id_a", "id_b")

  /** Zero-shuffle signature path, gated by the SAME oracle as
    * `dedup_minhash_lsh` — the hash gate is the bit-identity proof. */
  private val dedupMinHashRowLocal: Q = (s, dir) =>
    minHashLshPairsRowLocal(fixtureCorpus(docsSmall(s, dir)), 0.5)
      .orderBy("id_a", "id_b")

  /** Clusters over the oracle-verified MinHash pair graph; the DuckDB
    * twin computes the same components with a recursive CTE, so the
    * distributed label-propagation loop is hash-compared against a
    * declarative fixpoint. */
  private val dedupClusters: Q = (s, dir) =>
    nearDupClusters(minHashLshPairs(fixtureCorpus(docsSmall(s, dir)), 0.5))
      .orderBy("id")

  private val dedupSimHash: Q = (s, dir) =>
    simHash(fixtureCorpus(docsSmall(s, dir)))
      .select(col("id").as("doc_id"), col("simhash"))
      .orderBy("doc_id")

  private val dedupSimHashPairs: Q = (s, dir) =>
    simHashNearPairs(simHash(fixtureCorpus(docsSmall(s, dir))))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")

  /** Shared cosine fixture: (base corpus elems, planted near-dup
    * variant elems with ids offset by 10000). */
  private def cosineFixtureElems(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val base = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("vec_id").as("id"), (col("pos") + 1).as("i"),
        round(col("e").cast("double") * 1e6).cast("long").as("e_micro"))
    val variants = base.filter(col("id") % 5 === 0)
      .select((col("id") + 10000).as("id"), col("i"),
        (col("e_micro") + lit(10000) * ((col("i") % 3) - 1)).as("e_micro"))
    (base, variants)
  }

  private def cosineFixturePairs(s: SparkSession, dir: String): DataFrame = {
    val (base, variants) = cosineFixtureElems(s, dir)
    // explicit (4, 8): the DuckDB-gated twin pins an exact LSH
    // configuration for bit-parity; the production default auto-sizes
    cosineNearDupPairs(base.unionByName(variants), 0.9,
      nBands = 4, bitsPerBand = 8)
  }

  /** Incremental dense dedup gate: the base fixture embeddings are the
    * standing corpus, the planted variants the ingest batch — the
    * old×new candidate join only; the DuckDB twin is the exact
    * cross-restricted all-pairs cosine over the same union. */
  private val dedupEmbeddingIncremental: Q = (s, dir) => {
    val (base, variants) = cosineFixtureElems(s, dir)
    incrementalCosinePairs(base, variants, 0.9, nBands = 4, bitsPerBand = 8)
      .orderBy("id_a", "id_b")
  }

  private val dedupEmbeddingCosine: Q = (s, dir) =>
    cosineFixturePairs(s, dir).orderBy("id_a", "id_b")

  /** Clustering composes across similarity families: the SAME
    * label-propagation loop over the cosine pair graph, gated by the
    * recursive-CTE refold of the cosine pair oracle. */
  private val dedupCosineClusters: Q = (s, dir) =>
    nearDupClusters(cosineFixturePairs(s, dir)).orderBy("id")

  /** End-to-end survivor semantics — the user-facing dedup outcome:
    * pairs → components → exactly one (minimum-id) doc per cluster,
    * unpaired docs passing through. */
  private val dedupKeepOne: Q = (s, dir) => {
    val corpus = fixtureCorpus(docsSmall(s, dir))
    keepOnePerCluster(corpus, nearDupClusters(minHashLshPairs(corpus, 0.5)))
      .select("doc_id").orderBy("doc_id")
  }

  private val dedupKeepBest: Q = (s, dir) => {
    val corpus = fixtureCorpus(docsSmall(s, dir))
    keepBestPerCluster(corpus, nearDupClusters(minHashLshPairs(corpus, 0.5)))
      .select("doc_id").orderBy("doc_id")
  }

  /** Incremental split: the existing corpus is the base docs; the new
    * batch is the near/copy variants plus 50 genuinely fresh docs
    * (ids +30000) that should match nothing. */
  private def incrSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = docsSmall(s, dir).select(col("doc_id"), col("text"))
    val near = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft near dup tail")).as("text"))
    val copies = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"))
    val fresh = docs(s, dir)
      .filter(col("doc_id") >= 200 && col("doc_id") < 250)
      .select((col("doc_id") + 30000).as("doc_id"), col("text"))
    (base, near.unionByName(copies).unionByName(fresh))
  }

  private val dedupIncremental: Q = (s, dir) => {
    val (old, batch) = incrSplit(s, dir)
    incrementalLshPairs(old, batch, 0.5).orderBy("id_a", "id_b")
  }

  private val dedupBloomProbe: Q = (s, dir) => {
    val (old, batch) = incrSplit(s, dir)
    bloomProbeDedup(old, batch,
      expectedItems = 10000L, numBits = 131072L).orderBy("doc_id")
  }

  private val dedupSubstringSpans: Q = (s, dir) =>
    substringSpanStats(fixtureCorpus(docsSmall(s, dir))).orderBy("doc_id")

  private val dedupSubstringClean: Q = (s, dir) =>
    removeDuplicatedSpans(fixtureCorpus(docsSmall(s, dir))).orderBy("doc_id")

  /** LSH banding planner — the S-curve calculator behind the 4×4
    * choice hard-wired above (Leskovec/Rajaraman/Ullman MMDS §3.4.3):
    * for a signature budget of `sigs` hashes, every (bands, rows)
    * factorization's collision threshold (1/b)^(1/r) — the similarity
    * where candidate probability crosses ½ — with its distance to the
    * target, nearest first. Driver-side-sized frame (divisors of the
    * budget); pow micro-rounded once (the only transcendental). */
  def lshBandingPlan(s: SparkSession, sigs: Int = 16,
      targetMicro: Long = 500000L): DataFrame = {
    s.range(1, sigs + 1).toDF("b")
      .filter(lit(sigs) % col("b") === 0)
      .withColumn("r", (lit(sigs.toLong) / col("b")).cast("long"))
      .withColumn("thresh_micro",
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")) * lit(1e6))
          .cast("long"))
      .withColumn("dist_micro",
        abs(col("thresh_micro") - lit(targetMicro)))
      .select("b", "r", "thresh_micro", "dist_micro")
      .orderBy("dist_micro", "b")
  }

  private val dedupLshPlan: Q = (s, _) => lshBandingPlan(s)

  val queries: Map[String, Q] = Map(
    "dedup_lsh_plan"         -> dedupLshPlan,
    "dedup_cdc_chunks"       -> dedupCdcChunks,
    "dedup_cdc_report"       -> dedupCdcReport,
    "dedup_exact"            -> dedupExact,
    "dedup_exact_normalized" -> dedupExactNormalized,
    "dedup_keep_one"         -> dedupKeepOne,
    "dedup_keep_best"        -> dedupKeepBest,
    "dedup_incremental"      -> dedupIncremental,
    "dedup_bloom_probe"      -> dedupBloomProbe,
    "dedup_substring_spans"  -> dedupSubstringSpans,
    "dedup_substring_clean"  -> dedupSubstringClean,
    "dedup_ngram_jaccard"    -> dedupJaccard,
    "dedup_containment"      -> dedupContainment,
    "dedup_minhash_lsh"      -> dedupMinHashLsh,
    "dedup_minhash_rowlocal" -> dedupMinHashRowLocal,
    "dedup_clusters"         -> dedupClusters,
    "dedup_simhash"          -> dedupSimHash,
    "dedup_simhash_pairs"    -> dedupSimHashPairs,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_embedding_incremental" -> dedupEmbeddingIncremental,
    "dedup_cosine_clusters"  -> dedupCosineClusters,
  )

  // ------------------------------------------------------- oracle SQL

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000, text || ' graft near dup tail'
      |FROM documents WHERE doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id + 20000, text FROM documents WHERE doc_id % 7 = 0""".stripMargin

  private val corpusSmallSql =
    """SELECT doc_id, text FROM documents WHERE doc_id < 200
      |UNION ALL
      |SELECT doc_id + 10000, text || ' graft near dup tail'
      |FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id + 20000, text
      |FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0""".stripMargin

  private val shinglesSql =
    """SELECT doc_id AS id, unnest(CASE WHEN length(text) < 9 THEN [text]
      |  ELSE list_distinct(list_transform(range(1, length(text) - 7),
      |    i -> substr(text, CAST(i AS INT), 9))) END) AS shingle
      |FROM corpus""".stripMargin

  private val jaccardTailSql =
    """sizes AS (SELECT id, COUNT(*) AS set_size FROM shingles GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      |  FROM shingles a JOIN shingles b
      |    ON a.shingle = b.shingle AND a.id < b.id
      |  GROUP BY a.id, b.id)
      |SELECT i.id_a, i.id_b,
      |  CAST(i.n_common AS DOUBLE) / (sa.set_size + sb.set_size - i.n_common)
      |    AS jaccard
      |FROM inter i
      |JOIN sizes sa ON i.id_a = sa.id
      |JOIN sizes sb ON i.id_b = sb.id
      |WHERE CAST(i.n_common AS DOUBLE)
      |  / (sa.set_size + sb.set_size - i.n_common) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Structural (ctes, finalSelect, orderBy) oracle composition: the
    * cluster and keep-one oracles refold their pair oracle by naming
    * its final SELECT as a CTE and appending new parts — no marker
    * search or suffix stripping, so harmless reformatting of a pair
    * oracle can never produce a malformed splice (r3 advice). */
  private final case class OracleParts(ctes: String, finalSelect: String,
      orderBy: String, recursive: Boolean = false) {
    def sql: String =
      s"WITH ${if (recursive) "RECURSIVE " else ""}$ctes\n$finalSelect\nORDER BY $orderBy"
    /** Fold the current final SELECT into `cteName`, append
      * `extraCtes` (if any), and continue with a new final SELECT. */
    def fold(cteName: String, newFinal: String, newOrder: String,
        extraCtes: String = "", makeRecursive: Boolean = false): OracleParts =
      OracleParts(
        s"$ctes,\n$cteName AS (\n$finalSelect)" +
          (if (extraCtes.isEmpty) "" else s",\n$extraCtes"),
        newFinal, newOrder, recursive || makeRecursive)
  }

  /** The md5-family MinHash pair oracle, parametrized by the corpus
    * CTE and the candidate-pair predicate so the self-join
    * (`a.id < b.id`) and incremental (`old × new`) keys share ONE
    * oracle text — the banding/verify pipeline can never drift
    * between them. */
  private def minHashPairPartsFor(corpus: String,
      candPred: String): OracleParts = OracleParts(
    ctes = s"""corpus AS ($corpus),
         |shingles AS ($shinglesSql),
         |sigs AS (
         |  SELECT id, 4 * g + j AS seed,
         |    MIN(substr(md5(CAST(g AS VARCHAR) || ':' || shingle),
         |               1 + 8 * j, 8)) AS sig
         |  FROM shingles
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS g)
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
         |  GROUP BY id, g, j),
         |buckets AS (
         |  SELECT id, seed // 4 AS band,
         |    md5(string_agg(sig, ',' ORDER BY seed)) AS bucket
         |  FROM sigs GROUP BY id, seed // 4),
         |candidates AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.bucket = b.bucket AND $candPred),
         |pairshingles AS (
         |  SELECT c.id_a, c.id_b, sa.shingle
         |  FROM candidates c
         |  JOIN shingles sa ON c.id_a = sa.id
         |  JOIN shingles sb ON c.id_b = sb.id AND sa.shingle = sb.shingle),
         |sizes AS (SELECT id, COUNT(*) AS set_size FROM shingles GROUP BY id),
         |inter AS (
         |  SELECT id_a, id_b, COUNT(*) AS n_common
         |  FROM pairshingles GROUP BY id_a, id_b)""".stripMargin,
    finalSelect =
      """SELECT i.id_a, i.id_b,
        |  CAST(i.n_common AS DOUBLE) / (sa.set_size + sb.set_size - i.n_common)
        |    AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.id_a = sa.id
        |JOIN sizes sb ON i.id_b = sb.id
        |WHERE CAST(i.n_common AS DOUBLE)
        |  / (sa.set_size + sb.set_size - i.n_common) >= 0.5""".stripMargin,
    orderBy = "id_a, id_b")

  /** Bound to BOTH `dedup_minhash_lsh` (grouped signatures) and
    * `dedup_minhash_rowlocal` (zero-shuffle signatures): the two plans
    * must hash-match the same answer. */
  private val minHashPairParts: OracleParts =
    minHashPairPartsFor(corpusSmallSql, "a.id < b.id")

  private val minHashOracleSql: String = minHashPairParts.sql

  /** Incremental-dedup corpus: base (existing, ids < 200) ∪ the new
    * batch (near +10000, copies +20000, fresh +30000). Cross-side
    * candidates only: existing ids < 10000 ≤ batch ids. */
  private val incrCorpusSql =
    """SELECT doc_id, text FROM documents WHERE doc_id < 200
      |UNION ALL
      |SELECT doc_id + 10000, text || ' graft near dup tail'
      |FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id + 20000, text
      |FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
      |UNION ALL
      |SELECT doc_id + 30000, text
      |FROM documents WHERE doc_id >= 200 AND doc_id < 250""".stripMargin

  private val incrementalOracleSql: String =
    minHashPairPartsFor(incrCorpusSql,
      "a.id < 10000 AND b.id >= 10000").sql

  /** Shared CTE chain for the duplicated-substring keys: token arrays
    * → 8-token gram occurrences → non-first occurrences (packed-min
    * election) → gaps-and-islands merge. Mirrors [[duplicatedSpans]]
    * term by term (n = 8 ⇒ slice l[i:i+7], start bound len-7). */
  private val substringMergedCtes =
    s"""corpus AS ($corpusSmallSql),
       |toksarr AS (
       |  SELECT doc_id AS id,
       |    list_filter(string_split_regex(text, '\\s+'),
       |      t -> len(t) > 0) AS l
       |  FROM corpus),
       |occ0 AS (
       |  SELECT id, l, unnest(range(1, len(l) - 6)) AS s
       |  FROM toksarr),
       |occ AS (
       |  SELECT id, s, s + 7 AS e,
       |    md5(array_to_string(l[s:s+7], ' ')) AS gh
       |  FROM occ0),
       |dups AS (
       |  SELECT id, s, e FROM (
       |    SELECT id, s, e, id * 1000000 + s AS packed,
       |      MIN(id * 1000000 + s) OVER (PARTITION BY gh) AS min_packed
       |    FROM occ) x
       |  WHERE packed <> min_packed),
       |marked AS (
       |  SELECT id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (
       |        PARTITION BY id ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |        -1000000) + 1
       |      THEN 1 ELSE 0 END AS ni
       |  FROM dups),
       |islands AS (
       |  SELECT id, s, e,
       |    SUM(ni) OVER (PARTITION BY id ORDER BY s, e) AS island
       |  FROM marked),
       |merged AS (
       |  SELECT id, island, MIN(s) AS s, MAX(e) AS e
       |  FROM islands GROUP BY id, island)""".stripMargin

  private val substringSpansOracleSql =
    s"""WITH $substringMergedCtes,
       |sizes AS (SELECT id, len(l) AS n_tokens FROM toksarr)
       |SELECT m.id AS doc_id, COUNT(*) AS n_dup_spans,
       |  CAST(SUM(m.e - m.s + 1) AS BIGINT) AS n_dup_tokens,
       |  MAX(sz.n_tokens) AS n_tokens
       |FROM merged m JOIN sizes sz ON m.id = sz.id
       |GROUP BY m.id ORDER BY doc_id""".stripMargin

  private val substringCleanOracleSql =
    s"""WITH $substringMergedCtes,
       |toks0 AS (
       |  SELECT id, l, unnest(range(1, len(l) + 1)) AS i
       |  FROM toksarr),
       |toks AS (SELECT id, i, l[i] AS tok FROM toks0)
       |SELECT t.id AS doc_id, string_agg(t.tok, ' ' ORDER BY t.i) AS cleaned
       |FROM toks t
       |WHERE NOT EXISTS (SELECT 1 FROM merged m
       |  WHERE m.id = t.id AND t.i BETWEEN m.s AND m.e)
       |GROUP BY t.id
       |ORDER BY doc_id""".stripMargin

  /** Refold ANY pair oracle into the recursive-components query — the
    * single definition behind every `dedup_*_clusters` oracle, so a
    * cluster oracle can never drift from its pair oracle: reach(id,
    * label) closes over the (undirected) edge list and the min
    * reachable id is the cluster label. */
  private def clustersOverPairOracle(pair: OracleParts): OracleParts =
    pair.fold("pairs",
      extraCtes = """edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, label) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)""".stripMargin,
      newFinal = "SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id",
      newOrder = "id", makeRecursive = true)

  private val clustersParts: OracleParts =
    clustersOverPairOracle(minHashPairParts)

  private val clustersOracleSql: String = clustersParts.sql

  private val cosinePairParts: OracleParts = OracleParts(
    ctes = """base AS (
        |  SELECT vec_id AS id, i,
        |    CAST(ROUND(embedding[i] * 1e6) AS BIGINT) AS e_micro
        |  FROM embeddings e, generate_series(1, 64) t(i)
        |  WHERE vec_id < 200),
        |elems AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT id + 10000, i, e_micro + 10000 * ((i % 3) - 1)
        |  FROM base WHERE id % 5 = 0),
        |norms AS (
        |  SELECT id, SUM(e_micro * e_micro) AS norm2 FROM elems GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, b.id AS id_b, SUM(a.e_micro * b.e_micro) AS dot
        |  FROM elems a JOIN elems b ON a.i = b.i AND a.id < b.id
        |  GROUP BY a.id, b.id)""".stripMargin,
    finalSelect =
      """SELECT d.id_a, d.id_b,
        |  CAST(d.dot AS DOUBLE)
        |    / (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE)))
        |    AS cosine
        |FROM dots d
        |JOIN norms na ON d.id_a = na.id
        |JOIN norms nb ON d.id_b = nb.id
        |WHERE CAST(d.dot AS DOUBLE)
        |  / (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE)))
        |  >= 0.9""".stripMargin,
    orderBy = "id_a, id_b")

  private val cosineOracleSql: String = cosinePairParts.sql

  /** Cross-restricted twin of [[cosinePairParts]]: same base/variant
    * CTEs, dots computed ONLY for (existing, ingested) pairs — the
    * declarative refold of the old×new candidate discipline. */
  private val cosineIncrementalParts: OracleParts = OracleParts(
    ctes = """base AS (
        |  SELECT vec_id AS id, i,
        |    CAST(ROUND(embedding[i] * 1e6) AS BIGINT) AS e_micro
        |  FROM embeddings e, generate_series(1, 64) t(i)
        |  WHERE vec_id < 200),
        |elems AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT id + 10000, i, e_micro + 10000 * ((i % 3) - 1)
        |  FROM base WHERE id % 5 = 0),
        |norms AS (
        |  SELECT id, SUM(e_micro * e_micro) AS norm2 FROM elems GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, b.id AS id_b, SUM(a.e_micro * b.e_micro) AS dot
        |  FROM elems a JOIN elems b
        |    ON a.i = b.i AND a.id < 10000 AND b.id >= 10000
        |  GROUP BY a.id, b.id)""".stripMargin,
    finalSelect = cosinePairParts.finalSelect,
    orderBy = "id_a, id_b")

  /** Shared CTE chain of the CDC twin: planted prefix-edited
    * revisions, k=9 gram hashes, cut positions (hash ≡ 0 mod 64),
    * span assembly, one row per non-empty chunk. */
  private val cdcChunksSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |twins AS (SELECT doc_id + 70000 AS doc_id, 'EDITPREFIX ' || text
      |            AS text
      |          FROM base WHERE doc_id % 4 = 0),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
      |h AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(text) >= 9 THEN
      |      list_transform(generate_series(1, len(text) - 8),
      |        i -> CAST(('0x' || substr(md5(substr(text, i, 9)), 1, 15))
      |          AS BIGINT))
      |    ELSE [] END AS hs
      |  FROM corpus),
      |c AS (
      |  SELECT doc_id, text,
      |    list_filter(generate_series(1, len(hs)), i -> hs[i] % 64 = 0)
      |      AS cuts
      |  FROM h),
      |s AS (
      |  SELECT doc_id, text,
      |    list_prepend(1, list_transform(cuts, x -> x + 9)) AS starts,
      |    list_append(list_transform(cuts, x -> x + 8), len(text)) AS ends
      |  FROM c),
      |v AS (
      |  SELECT doc_id, text, starts, ends,
      |    list_filter(generate_series(1, len(starts)),
      |      j -> starts[j] <= ends[j]) AS idx
      |  FROM s),
      |chunks AS (
      |  SELECT doc_id,
      |    CAST(jj - 1 AS INT) AS chunk_id,
      |    CAST(starts[idx[jj]] AS INT) AS chunk_start,
      |    CAST(ends[idx[jj]] - starts[idx[jj]] + 1 AS INT)
      |      AS n_chunk_chars,
      |    md5(substr(text, starts[idx[jj]],
      |      ends[idx[jj]] - starts[idx[jj]] + 1)) AS chunk_md5
      |  FROM (SELECT doc_id, text, starts, ends, idx,
      |          unnest(generate_series(1, len(idx))) AS jj FROM v))""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_cdc_chunks" ->
      s"""$cdcChunksSql
         |SELECT doc_id, chunk_id, chunk_start, n_chunk_chars, chunk_md5
         |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,

    "dedup_lsh_plan" ->
      """WITH params AS (
        |  SELECT i AS b, 16 // i AS r FROM generate_series(1, 16) t(i)
        |  WHERE 16 % i = 0),
        |curve AS (
        |  SELECT b, r,
        |    CAST(ROUND(POW(1.0 / b, 1.0 / r) * 1e6) AS BIGINT)
        |      AS thresh_micro
        |  FROM params)
        |SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
        |  thresh_micro,
        |  CAST(ABS(thresh_micro - 500000) AS BIGINT) AS dist_micro
        |FROM curve ORDER BY dist_micro, b""".stripMargin,

    "dedup_cdc_report" ->
      s"""$cdcChunksSql,
         |occ AS (SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs
         |        FROM chunks GROUP BY chunk_md5)
         |SELECT c2.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN o.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_chunks,
         |  CAST(SUM(c2.n_chunk_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(CASE WHEN o.n_docs > 1 THEN c2.n_chunk_chars ELSE 0 END)
         |    AS BIGINT) AS n_shared_chars
         |FROM chunks c2 JOIN occ o ON c2.chunk_md5 = o.chunk_md5
         |GROUP BY c2.doc_id ORDER BY c2.doc_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH corpus AS ($corpusSql)
         |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
         |  COUNT(*) AS n_copies
         |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH corpus AS ($corpusSmallSql),
         |shingles AS ($shinglesSql),
         |$jaccardTailSql""".stripMargin,

    "dedup_exact_normalized" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 40000,
        |    regexp_replace(text, 'e', 'e' || chr(769), 'g')
        |  FROM base WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 50000, regexp_replace(text, ' ', '  ', 'g')
        |  FROM base WHERE doc_id % 6 = 3
        |  UNION ALL
        |  SELECT doc_id + 60000, regexp_replace(text, 'e', chr(233), 'g')
        |  FROM base WHERE doc_id % 6 = 0),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS n
        |  FROM corpus)
        |SELECT md5(n) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM norm GROUP BY md5(n) ORDER BY keep_id""".stripMargin,

    // all-pairs exact containment — the gate doubles as the proof that
    // the frequency-capped candidate stage loses no qualifying pair
    "dedup_containment" ->
      s"""WITH corpus AS ($corpusSmallSql
         |UNION ALL
         |SELECT doc_id + 40000, substr(text, 1, 80)
         |FROM documents WHERE doc_id < 200 AND doc_id % 13 = 0),
         |shingles AS ($shinglesSql),
         |sizes AS (SELECT id, COUNT(*) AS set_size FROM shingles GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
         |  FROM shingles a JOIN shingles b
         |    ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT i.id_a, i.id_b, CAST(i.n_common AS BIGINT) AS n_common,
         |  CAST(i.n_common AS DOUBLE) / LEAST(sa.set_size, sb.set_size)
         |    AS containment
         |FROM inter i
         |JOIN sizes sa ON i.id_a = sa.id
         |JOIN sizes sb ON i.id_b = sb.id
         |WHERE CAST(i.n_common AS DOUBLE)
         |  / LEAST(sa.set_size, sb.set_size) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_lsh" -> minHashOracleSql,

    "dedup_minhash_rowlocal" -> minHashOracleSql,

    "dedup_incremental" -> incrementalOracleSql,

    "dedup_bloom_probe" ->
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |batch AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    text || ' graft near dup tail' AS text
        |  FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, text
        |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000, text
        |  FROM documents WHERE doc_id >= 200 AND doc_id < 250)
        |SELECT b.doc_id,
        |  md5(b.text) IN (SELECT md5(text) FROM old) AS is_dup
        |FROM batch b ORDER BY doc_id""".stripMargin,

    "dedup_substring_spans" -> substringSpansOracleSql,

    "dedup_substring_clean" -> substringCleanOracleSql,

    "dedup_clusters" -> clustersOracleSql,

    // the components query folded one level further: its final SELECT
    // becomes a `comp` CTE, survivors anti-select against it
    "dedup_keep_one" -> clustersParts.fold("comp",
      newFinal =
        """SELECT doc_id FROM corpus
          |WHERE doc_id NOT IN (
          |  SELECT id FROM comp WHERE id <> cluster_id)""".stripMargin,
      newOrder = "doc_id").sql,

    // same cluster fold, quality-ranked keeper: highest basis-point
    // quality wins, lowest id on ties (one packed MIN per cluster)
    "dedup_keep_best" -> clustersParts.fold("comp",
      extraCtes =
        s"""memb AS (
           |  SELECT c.id, c.cluster_id,
           |    (10000 - CAST(ROUND((${TextAnalysis.sqlQualityScore}) * 1e4)
           |      AS BIGINT)) * 1000000000000 + c.id AS packed
           |  FROM comp c JOIN corpus d ON c.id = d.doc_id),
           |keepers AS (
           |  SELECT cluster_id, MIN(packed) AS kp
           |  FROM memb GROUP BY cluster_id)""".stripMargin,
      newFinal =
        """SELECT doc_id FROM corpus
          |WHERE doc_id NOT IN (
          |  SELECT m.id FROM memb m JOIN keepers k
          |    ON m.cluster_id = k.cluster_id
          |  WHERE m.packed <> k.kp)""".stripMargin,
      newOrder = "doc_id").sql,

    "dedup_simhash" ->
      s"""WITH corpus AS ($corpusSmallSql),
         |toks AS (
         |  SELECT doc_id AS id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0)) AS token
         |  FROM corpus),
         |votes AS (
         |  SELECT id, j,
         |    SUM(CASE WHEN ((CAST(('0x' || substr(md5(token), 1, 15))
         |        AS BIGINT) >> j) & 1) = 1
         |      THEN 1 ELSE -1 END) AS v
         |  FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
         |  GROUP BY id, j)
         |SELECT id AS doc_id,
         |  CAST(SUM(CAST(CASE WHEN v > 0 THEN 1 ELSE 0 END AS BIGINT) << j)
         |    AS BIGINT) AS simhash
         |FROM votes GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH corpus AS ($corpusSmallSql),
         |toks AS (
         |  SELECT doc_id AS id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      t -> len(t) > 0)) AS token
         |  FROM corpus),
         |votes AS (
         |  SELECT id, j,
         |    SUM(CASE WHEN ((CAST(('0x' || substr(md5(token), 1, 15))
         |        AS BIGINT) >> j) & 1) = 1
         |      THEN 1 ELSE -1 END) AS v
         |  FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
         |  GROUP BY id, j),
         |hashes AS (
         |  SELECT id,
         |    CAST(SUM(CAST(CASE WHEN v > 0 THEN 1 ELSE 0 END AS BIGINT) << j)
         |      AS BIGINT) AS simhash
         |  FROM votes GROUP BY id),
         |bands AS (
         |  SELECT id, simhash, bi, (simhash >> (bi * 8)) & 255 AS bv
         |  FROM hashes CROSS JOIN (SELECT unnest(range(0, 4)) AS bi)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, a.simhash AS sh_a,
         |                  b.id AS id_b, b.simhash AS sh_b
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_cosine" -> cosineOracleSql,
    "dedup_embedding_incremental" -> cosineIncrementalParts.sql,

    "dedup_cosine_clusters" ->
      clustersOverPairOracle(cosinePairParts).sql,
  )
}
