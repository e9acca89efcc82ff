package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over an embedding column (north-star extension):
  * brute-force cosine top-k as the correctness baseline, sign-LSH
  * bucketing and IVF (inverted-file) partitioning as the scale paths.
  *
  * Scale design (100 TB of vectors):
  *  - brute-force is a query-broadcast join: the query set is small and
  *    broadcast, the corpus streams — one pass, no corpus shuffle, and
  *    the per-partition top-k (Window + filter on rank) combines
  *    map-side before the final k·|queries| row shuffle;
  *  - LSH/IVF first bucket the corpus (one narrow pass, written
  *    bucket-partitioned), then probe only matching buckets —
  *    candidate joins are equi-joins on the bucket key;
  *  - hyperplanes/centroid assignment are md5-derived, so bucketing is
  *    deterministic and reproducible with no RNG state shipped.
  *
  * Float-path functions (fast, codegen) serve production through one
  * float cosine kernel ([[normed]] rows, [[cosineOver]] pairs; [[sqL2]]
  * is the one PQ distance); the fixture queries run the same algorithms
  * in micro-scaled exact integers so the DuckDB oracle matches
  * bit-for-bit, through [[Dedup]]'s one micro-int cosine kernel
  * ([[Dedup.microElems]], [[Dedup.dimJoinDots]] /
  * [[Dedup.candidateDots]], [[Dedup.microCosine]]). Every top-k cut
  * here and in [[Retrieval]] is the one per-key rank [[topK]].
  */
object Similarity {

  private def dotN(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(a, b)

  /** The L2 norm of a float embedding. */
  private def norm(e: Column): Column = sqrt(dotN(e, e))

  /** Float cosine of two embeddings given their L2 norms: one codegen'd
    * dot (bit-identical to the zip_with HOF form — see
    * [[graft.functions.DotProduct]]) over the product of the norms. */
  private def cosineOver(a: Column, b: Column, na: Column, nb: Column): Column =
    dotN(a, b) / (na * nb)

  /** `df`'s `vec_id` and `embedding` as `id` and `emb`, its [[norm]] as
    * `<emb>_norm`, then `extra`: one side of a [[cosineOver]] join, the
    * norm taken once per ROW, not per pair (at |Q|·|C| pairs the hoist
    * removes two thirds of the kernel work). */
  private def normed(df: DataFrame, id: String, emb: String,
      extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as(id), col("embedding").as(emb),
      norm(col("embedding")).as(s"${emb}_norm")) ++ extra: _*)

  /** [[cosineOver]] of two [[normed]] sides' embeddings `a` and `b`. */
  private def normedCosine(a: String, b: String): Column =
    cosineOver(col(a), col(b), col(s"${a}_norm"), col(s"${b}_norm"))

  /** Cosine similarity of two numeric-array columns in one row-local
    * expression: [[cosineOver]] with each side's norm inline. */
  def cosine(a: Column, b: Column): Column =
    cosineOver(a, b, norm(a), norm(b))

  /** Brute-force cosine top-k (float path): for each query vector, the
    * k nearest corpus vectors by cosine, ties broken by corpus id. Both
    * sides are [[normed]]; the per-pair cost is one codegen'd dot. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = normed(queries, "query_id", "q_emb")
    val c = normed(corpus, "neighbor_id", "c_emb")
    annRows(c.crossJoin(broadcast(q)), k)
  }

  /** The top `k` neighbors per query of a joined pair of [[normed]]
    * sides (`q_emb`, `c_emb`), self-pairs excluded: (query_id,
    * neighbor_id, rank, cosine). */
  private def annRows(pairs: DataFrame, k: Int): DataFrame =
    topNeighbors(pairs.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", normedCosine("q_emb", "c_emb")), k)

  /** The top `k` per query of (query_id, neighbor_id, cosine) rows by
    * (cosine desc, neighbor_id): (query_id, neighbor_id, rank, cosine). */
  private def topNeighbors(scored: DataFrame, k: Int): DataFrame =
    topK(scored, Seq("query_id"), k, col("cosine").desc, col("neighbor_id"))
      .select("query_id", "neighbor_id", "rank", "cosine")

  /** The per-key rank of every top-k cut in [[Similarity]] and
    * [[Retrieval]]: the first `k` rows per `keys` by `order`, numbered
    * from 1 as `rank` (an existing `rank` column is replaced). */
  private[llm] def topK(scored: DataFrame, keys: Seq[String], k: Int,
      order: Column*): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** Driver-side twin of [[Dedup.md5Long]] (first 60 bits of the md5
    * hex digest): the hyperplane weights depend only on (plane, dim),
    * so they are computed ONCE here and shipped as literals instead of
    * being re-derived per row (the expression form evaluated
    * numPlanes·dims md5 calls per corpus row — a scale-killer the
    * moment the corpus is real). */
  private def md5Long60(s: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Pseudo-random hyperplane weights r_{p,i} = (md5_60(p:i) mod 2001)
    * − 1000 for dims i = 1..dims — deterministic, no RNG state.
    * Long-typed: the micro-int paths ([[Dedup.signBandBuckets]])
    * multiply these against integer elements, so the weights must stay
    * in exact integer arithmetic. */
  def hyperplaneWeightsLong(numPlanes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes, dims) { (p, i0) =>
      (md5Long60(s"$p:${i0 + 1}") % 2001) - 1000
    }

  def hyperplaneWeights(numPlanes: Int, dims: Int): Array[Array[Double]] =
    hyperplaneWeightsLong(numPlanes, dims).map(_.map(_.toDouble))

  /** Sign-LSH bucket id from md5-derived hyperplanes: bit p of the
    * bucket is the sign of Σ_i e_i·r_{p,i}. The weight matrix is
    * precomputed driver-side ([[hyperplaneWeights]]) and inlined as
    * array literals, so the per-row work is `numPlanes` codegen'd dot
    * products against constants — no per-row hashing. `dims` is part
    * of the index configuration (like `numPlanes`): a vector of any
    * other width fails LOUDLY (raise_error) instead of silently
    * landing every row in bucket 0 via the dot's length-mismatch
    * NULL. */
  def hyperplaneBucket(emb: Column, numPlanes: Int = 8,
      dims: Int = 64): Column = {
    val weights = hyperplaneWeights(numPlanes, dims)
    val bits = (0 until numPlanes).map { p =>
      val proj = dotN(emb, typedLit(weights(p).toSeq))
      when(proj > 0, lit(1L) * (1L << p)).otherwise(lit(0L))
    }
    when(size(emb) === dims, bits.reduce(_ + _)).otherwise(raise_error(
      concat(lit(s"hyperplaneBucket: expected $dims-dim embedding, got "),
        size(emb).cast("string"))))
  }

  /** LSH-bucketed ANN (float path): corpus and queries bucketed by
    * [[hyperplaneBucket]]; candidates = same-bucket equi-join; top-k
    * within candidates. Recall < 1 by construction; raise `numPlanes`
    * groups or probe multiple buckets for more. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val bucket = hyperplaneBucket(col("embedding"), numPlanes, dims).as("bucket")
    val cb = normed(corpus, "neighbor_id", "c_emb", bucket)
    val qb = normed(queries, "query_id", "q_emb", bucket)
    annRows(cb.join(broadcast(qb), Seq("bucket")), k)
  }

  /** Deterministic IVF centroid training: spark.ml KMeans, 20 rounds at
    * most, with the fixed seed 42 (k-means|| init and Lloyd iterations
    * are pure functions of (data, partitioning, seed), so the same
    * corpus trains the same
    * codebook on every run — the reproducibility contract the rest of
    * this library's content-addressed selection keeps). Returns a
    * (centroid_id, embedding) frame in exactly the shape [[ivfAssign]]
    * consumes; centroid_id is the KMeans cluster index.
    * Scale shape: training fits k · dims doubles on the driver (the
    * model) from one corpus aggregation per iteration — the standard
    * index-build step, run once per index, off the query path. */
  def trainCentroids(corpus: DataFrame, k: Int): DataFrame = {
    val feats = corpus.select(
      org.apache.spark.ml.functions.array_to_vector(col("embedding"))
        .as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features")
      .fit(feats)
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray) }
      .toDF("vec_id", "embedding")
  }

  /** IVF: every corpus row with the `centroid_id` of its nearest
    * centroid (broadcast centroid join) appended, a partition key for
    * bucket-pruned search. Centroids are any small (id, embedding)
    * frame — at scale, a [[trainCentroids]] k-means output or a
    * deterministic sample. A corpus already [[normed]] in place (as in
    * [[semanticDedup]]) keeps its norm column, computed once per row. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val c = normed(centroids, "centroid_id", "cent_emb")
    val rest = corpus.columns
      .filterNot(Set("vec_id", "embedding", "embedding_norm")).map(col)
    val scored = normed(corpus, "vec_id", "embedding", rest.toSeq: _*)
      .crossJoin(broadcast(c))
      .withColumn("sim", normedCosine("embedding", "cent_emb"))
    topK(scored, Seq("vec_id"), 1, col("sim").desc, col("centroid_id"))
      .select(corpus.columns.map(col).toSeq :+ col("centroid_id"): _*)
  }

  // ------------------------------------- product quantization (PQ/ADC)

  /** Slice each embedding into `m` contiguous subvectors:
    * (id, sub, sub_emb). Row-local (transform + posexplode). */
  def pqSubVectors(df: DataFrame, m: Int, dims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val sd = dims / m
    df.select(col(idCol).as("id"),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice($embCol, s * $sd + 1, $sd))"))
        .as(Seq("sub", "sub_emb")))
  }

  /** Per-subspace PQ codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): an independent
    * deterministic k-means ([[trainCentroids]]) per contiguous
    * subspace. Output: (sub, code, cb_emb) — m·k rows, broadcast-size
    * model metadata like the IVF centroid frame.
    *
    * Scale shape (reworked r7 — the r6 bench measured 4.8× per decade
    * because m SEQUENTIAL full-corpus KMeans fits dominated):
    *  - codebooks train on a DETERMINISTIC hash-capped sample of
    *    max(4096, ⌈√n⌉) vectors (`pmod(xxhash64(id), d) = 0` — a pure
    *    function of the ids, reproducible on any partitioning; the
    *    same content-addressed-selection discipline as
    *    [[semanticDedup]]'s keeper election). k-means quality needs
    *    sample size ≫ k, not the corpus: √n keeps the fit driver-side
    *    trivial at 100 TB while the ENCODE step still touches every
    *    vector exactly once. Corpora at or below the cap train on
    *    everything — small-fixture results are unchanged.
    *  - the m subspace fits run CONCURRENTLY (scala.concurrent.Future
    *    per subspace over the one persisted sample): Spark schedules
    *    jobs from multiple driver threads freely, so wall-clock is
    *    the slowest single fit, not the sum. */
  def trainPqCodebooks(corpus: DataFrame, m: Int = 4, k: Int = 8,
      dims: Int = 64): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sd = dims / m
    val n = corpus.count()
    val cap = math.max(4096L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val sample =
      if (n <= cap) corpus
      else {
        // ceil division so the EXPECTED sample size n/denom never
        // exceeds the cap (n=20k, cap=4096 → denom 5 → ~4k expected;
        // floor division would give denom 4 → ~5k, over the cap). The
        // hash sample is expected-size, not exact: n/denom can
        // undershoot the cap by up to ~2× just above a denom boundary
        // (n=5000, cap=4096 → denom 2 → ~2.5k) — the cap is an
        // expected UPPER bound on sample size, not a target (fine for
        // k ≤ 16 codebook fits, which need hundreds of points).
        val denom = (n + cap - 1) / cap
        corpus.filter(pmod(xxhash64(col("vec_id")), lit(denom)) === 0)
      }
    val cached = sample.persist()
    try {
      val fits = (0 until m).map { sIdx =>
        Future {
          val sub = cached.select(col("vec_id"),
            slice(col("embedding"), sIdx * sd + 1, sd).as("embedding"))
          trainCentroids(sub, k)
            .select(lit(sIdx).as("sub"), col("vec_id").as("code"),
              col("embedding").as("cb_emb"))
        }
      }
      // each Await returns a driver-side LocalRelation (clusterCenters
      // live in the fitted model), so the union is sample-independent
      fits.map(Await.result(_, Duration.Inf)).reduce(_ unionByName _)
    } finally cached.unpersist()
  }

  /** PQ encode: nearest codeword per (vector, subspace) by squared L2.
    * One broadcast join against the m·k-row codebook, then a
    * map-side-combining min(struct(dist, code)) — no window, no
    * per-group sort; the corpus is stored as m small codes per vector
    * (the PQ compression that makes 100 TB of embeddings searchable).
    * Distances are summed in double — exact for micro-int magnitudes
    * (every partial stays below 2^53), so the oracle twin can compare
    * as BIGINT. Inputs: sv = (id, sub, sub_emb) from
    * [[pqSubVectors]]; codebooks = (sub, code, cb_emb). */
  def pqEncode(sv: DataFrame, codebooks: DataFrame): DataFrame =
    sv.join(broadcast(codebooks), "sub")
      .withColumn("dist", sqL2)
      .groupBy("id", "sub")
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("id"), col("sub"), col("best.code").as("code"))

  /** Squared L2 distance, in double, of a subvector `sub_emb` to a
    * codeword `cb_emb`: the one distance of [[pqEncode]] and [[pqTopK]]. */
  private def sqL2: Column = aggregate(
    zip_with(col("sub_emb"), col("cb_emb"), (a, b) =>
      (a.cast("double") - b.cast("double")) *
        (a.cast("double") - b.cast("double"))),
    lit(0.0), (acc, x) => acc + x)

  /** ADC (asymmetric distance) top-k: each query's exact distance to
    * every codeword is a tiny m·k-row table computed once; a corpus
    * vector's approximate distance is then m lookups summed. The
    * corpus side is touched ONCE — codes equi-join the broadcast
    * query table on (sub, code), then one map-side-combined sum per
    * (query, vector). Ties break on (adist, id). */
  def pqTopK(encoded: DataFrame, codebooks: DataFrame, queriesSv: DataFrame,
      k: Int): DataFrame = {
    val tbl = queriesSv.join(broadcast(codebooks), "sub")
      .withColumn("qdist", sqL2)
      .select("query_id", "sub", "code", "qdist")
    val adc = encoded.join(broadcast(tbl), Seq("sub", "code"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum("qdist").as("adist"))
      .filter(col("query_id") =!= col("id"))
    topK(adc, Seq("query_id"), k, col("adist"), col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("rank"), col("adist"))
  }

  /** Trained-codebook PQ search end to end: train → encode → ADC. */
  def pqSearch(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
      kCodes: Int = 8, dims: Int = 64): DataFrame = {
    val cb = trainPqCodebooks(corpus, m, kCodes, dims)
    val sv = pqSubVectors(corpus, m, dims)
    val qsv = pqSubVectors(queries, m, dims)
      .withColumnRenamed("id", "query_id")
    pqTopK(pqEncode(sv, cb), cb, qsv, k)
  }

  // --------------------------------------------------- fixture queries

  type Q = (SparkSession, String) => DataFrame

  /** The gated ANN result of the kernel's (id_a, id_b, cosine) rows,
    * id_a the query and id_b the neighbor: the top `k` per query as
    * (query_id, neighbor_id, rank, cosine) in (query_id, rank) order. */
  private def annTopK(pairs: DataFrame, k: Int): DataFrame =
    topNeighbors(pairs.select(col("id_a").as("query_id"),
        col("id_b").as("neighbor_id"), col("cosine")), k)
      .orderBy("query_id", "rank")

  /** Exact micro-int cosine of every vector of `elems` to every centroid
    * (the vec_id % 50 = 1 vectors): (id, centroid_id, csim) — computed
    * once; the IVF assignment and the probe lists are pure filters and
    * ranks of it (the oracle's single `vcs` CTE). */
  private def centroidSims(elems: DataFrame): DataFrame =
    Dedup.microCosine(
        Dedup.dimJoinDots(elems, elems.filter(col("id") % 50 === 1)), elems)
      .select(col("id_a").as("id"), col("id_b").as("centroid_id"),
        col("cosine").as("csim"))

  /** The `n` nearest centroids of each vector of a [[centroidSims]]
    * frame: (id, centroid_id). */
  private def nearestCentroids(vcs: DataFrame, n: Int): DataFrame =
    topK(vcs, Seq("id"), n, col("csim").desc, col("centroid_id"))
      .select("id", "centroid_id")

  /** Brute-force exact top-5 for query vectors vec_id % 50 = 0, micro-
    * int arithmetic so ranks and cosines hash-match the oracle. */
  private val annBruteForce: Q = (s, dir) => {
    val elems = Dedup.fixtureElems(s, dir)
    annTopK(Dedup.microCosine(Dedup.dimJoinDots(
      elems.filter(col("id") % 50 === 0), elems, col("a.id") =!= col("b.id")),
      elems), 5)
  }

  /** Sign-LSH on the first 8 dims (axis-aligned hyperplanes): bucket =
    * Σ (e_d > 0)·2^(d−1); candidates share the query's bucket; top-3.
    * The deliberately coarse planes make pruning visible in the
    * result (fewer than 3 rows for sparse buckets is legitimate). */
  private val annLshBucketed: Q = (s, dir) => {
    val elems = Dedup.fixtureElems(s, dir)
    val buckets = elems.filter(col("i") <= 8)
      .groupBy("id")
      .agg(sum(when(col("e_micro") > 0,
        expr("shiftleft(1L, i - 1)")).otherwise(0L)).as("bucket"))
    val qb = buckets.filter(col("id") % 50 === 0)
      .select(col("id").as("id_a"), col("bucket"))
    val cb = buckets.select(col("id").as("id_b"), col("bucket"))
    val cand = qb.join(cb, Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    annTopK(Dedup.microCosine(Dedup.candidateDots(cand, elems), elems), 3)
  }

  /** IVF in exact micro-int arithmetic (the oracle-gated twin of
    * [[ivfAssign]]'s float path): centroids are the
    * vec_id % 50 = 1 vectors; every corpus vector joins its
    * nearest-by-cosine centroid (broadcast-size centroid set); queries
    * (vec_id % 50 = 0) probe their nprobe=2 nearest centroid lists
    * only; exact top-3 within the probed candidates. */
  private val annIvf: Q = (s, dir) => {
    val elems = Dedup.fixtureElems(s, dir)
    val vcs = centroidSims(elems)
    val assigned = nearestCentroids(vcs, 1)
      .select(col("id").as("id_b"), col("centroid_id"))
    val probes = nearestCentroids(vcs.filter(col("id") % 50 === 0), 2)
      .select(col("id").as("id_a"), col("centroid_id"))
    val cand = probes.join(assigned, Seq("centroid_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    annTopK(Dedup.microCosine(Dedup.candidateDots(cand, elems), elems), 3)
  }

  /** Index-quality report: per-query recall@k of an approximate ANN
    * result against the exact ranking — the metric every ANN index
    * ships with (and the acceptance gate for tuning numPlanes/nprobe).
    * Left-join exact top-k rows against the approx set on
    * (query_id, neighbor_id) and count hits per query: recall =
    * hits / |exact top-k|. One equi-join + one groupBy, both on the
    * (unskewed) query key — the report costs no more than the searches
    * themselves at any scale. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.join(
        approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hit"), count(lit(1)).as("n_exact"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact"))
      .select("query_id", "n_hit", "n_exact", "recall")

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then drop
    * near-duplicates WITHIN each cluster only — the cluster assignment
    * is the candidate-generation step that makes embedding dedup
    * tractable at corpus scale. Keep rule: a vector is dropped iff a
    * LOWER-id member of its cluster is cosine-similar above
    * `threshold` (keep-first — content/id-addressed like every other
    * selection in this library, so the survivor set is reproducible on
    * any engine or cluster size; the paper keeps the member closest to
    * the centroid, an equally arbitrary representative).
    *
    * Scale shape (100 TB of vectors): one broadcast centroid
    * assignment pass over the corpus, then an equi-join on
    * `centroid_id` — pair work is Σ_c |cluster_c|², not |corpus|²,
    * and k is chosen to bound E[|cluster|] (SemDeDup uses k ≈ √n).
    * A pathologically popular cluster is the skew case: raise k or
    * re-cluster that cluster's members (the assignment is itself a
    * DataFrame — the operator composes with itself). Returns every
    * corpus row as (id, centroid_id, kept). */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = ivfAssign(normed(corpus, "vec_id", "embedding"), centroids)
    def side(s: String) = assigned.select(col("centroid_id"),
      col("vec_id").as(s"id_$s"), col("embedding").as(s"emb_$s"),
      col("embedding_norm").as(s"emb_${s}_norm"))
    val dups = side("a").join(side("b"), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", normedCosine("emb_a", "emb_b"))
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("dup").isNull.as("kept"))
  }

  /** Recall@3 of the nprobe=2 IVF path vs exact brute force — composes
    * the two oracle-gated searches above, so the DuckDB twin is their
    * oracle texts re-joined. (The coarse-bucket LSH fixture was
    * considered and rejected: its recall is 0.0 for every fixture
    * query at both SFs, an undiscriminating gate; IVF recall spans
    * 0..1 across queries.) */
  private val annRecallIvf: Q = (s, dir) =>
    recallAtK(annIvf(s, dir),
      annBruteForce(s, dir).filter(col("rank") <= 3)).orderBy("query_id")

  /** Recall@3 of the supplied-codebook PQ/ADC path vs exact brute
    * force — the index-quality report for the compressed-domain
    * search (the gate spans 0..0.67 across fixture queries, so it
    * discriminates; the LSH fixture stays excluded — its recall is
    * uniformly 0.0, see [[annRecallIvf]]'s note). */
  private val annRecallPq: Q = (s, dir) =>
    recallAtK(annPq(s, dir),
      annBruteForce(s, dir).filter(col("rank") <= 3)).orderBy("query_id")

  /** [[semanticDedup]] in exact micro-int arithmetic (the oracle-gated
    * twin of the float path): corpus = base vectors plus the planted
    * near-dup variants of [[Dedup]]'s cosine fixture (id%5 vectors
    * perturbed by ±0.01 per dim, shipped as id+10000); centroids are
    * the id%50==1 base vectors. Every variant that lands in its base's
    * cluster and clears cosine ≥ 0.9 against a lower-id member is
    * dropped; all 250 rows come back with their assignment and fate. */
  private val dedupSemantic: Q = (s, dir) => {
    val base = Dedup.fixtureElems(s, dir)
    val elems = base.unionByName(Dedup.fixtureVariants(base))
    val assigned = nearestCentroids(centroidSims(elems), 1)
    val cand = assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val dups = Dedup.verifyCosine(cand, elems, 0.9)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dups.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("centroid_id"),
        col("dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** PQ in exact micro-int arithmetic (the oracle-gated twin of the
    * [[pqSearch]] float path, the same supplied-model split as
    * `ann_ivf`): codebook = the subvector slices of vec_id 0..7
    * (deterministic data-sampled codewords; [[trainPqCodebooks]] is
    * the trained path, spec-pinned); every corpus vector is encoded to
    * 4 codes; queries (vec_id % 50 = 0) rank by ADC. Distances are
    * integer-valued throughout (double partials stay below 2^53), so
    * adist is cast to BIGINT for the hash gate. */
  private val annPq: Q = (s, dir) => {
    val arrays = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id").as("id"),
        expr("transform(embedding, e -> cast(round(cast(e as double) * 1e6) as long))")
          .as("emb"))
    val sv = pqSubVectors(arrays, m = 4, dims = 64, idCol = "id",
      embCol = "emb")
    val cb = sv.filter(col("id") < 8)
      .select(col("sub"), col("id").as("code"),
        col("sub_emb").as("cb_emb"))
    val qsv = sv.filter(col("id") % 50 === 0)
      .select(col("id").as("query_id"), col("sub"), col("sub_emb"))
    pqTopK(pqEncode(sv, cb), cb, qsv, 5)
      .withColumn("adist", col("adist").cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Signed-random-projection dimensionality reduction (Achlioptas
    * 2001's database-friendly Johnson–Lindenstrauss matrix: entries ±1
    * each with probability 1/2): y_j = Σ_i s_{j,i}·x_i over md5-derived
    * signs — deterministic, no RNG state, any worker reproduces the
    * same projection. Exact integer arithmetic, expressed as the
    * explode → broadcast sign-frame join → (id, j) groupBy (unskewed
    * keys, map-side combine) — the grouped form whose sums are
    * partition-order-free, so the BIGINT projections hash-match
    * DuckDB. The sign frame is derived with explode (never a cross
    * join — the plan-quality gate forbids cartesians in gated
    * queries). */
  private val embedRandomProjection: Q = (s, dir) => {
    val elems = Dedup.fixtureElems(s, dir)
    val signs = elems.select(col("i")).distinct()
      .select(col("i"), explode(sequence(lit(1), lit(8))).as("j"))
      .select(col("i"), col("j"),
        when(Dedup.md5Long(concat(col("j").cast("string"), lit(":"),
          col("i").cast("string"))) % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("s"))
    elems.join(broadcast(signs), "i")
      .groupBy(col("id"), col("j"))
      .agg(sum(col("e_micro") * col("s")).as("y_micro"))
      .select(col("id"), col("j").cast("long").as("j"), col("y_micro"))
      .orderBy("id", "j")
  }

  val queries: Map[String, Q] = Map(
    "embed_random_projection" -> embedRandomProjection,
    "ann_brute_force"  -> annBruteForce,
    "ann_lsh_bucketed" -> annLshBucketed,
    "ann_ivf"          -> annIvf,
    "ann_pq"           -> annPq,
    "ann_recall_ivf"   -> annRecallIvf,
    "ann_recall_pq"    -> annRecallPq,
    "dedup_semantic"   -> dedupSemantic,
  )

  // ------------------------------------------------------- oracle SQL

  private val elemsSql =
    """SELECT vec_id AS id, i,
      |  CAST(ROUND(embedding[i] * 1e6) AS BIGINT) AS e_micro
      |FROM embeddings e, generate_series(1, 64) t(i)
      |WHERE vec_id < 200""".stripMargin

  private val searchOracles: Map[String, String] = Map(
    "ann_brute_force" ->
      s"""WITH elems AS ($elemsSql),
         |norms AS (SELECT id, SUM(e_micro * e_micro) AS norm2
         |          FROM elems GROUP BY id),
         |dots AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    SUM(q.e_micro * c.e_micro) AS dot
         |  FROM elems q JOIN elems c ON q.i = c.i AND q.id <> c.id
         |  WHERE q.id % 50 = 0
         |  GROUP BY q.id, c.id),
         |scored AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    CAST(d.dot AS DOUBLE)
         |      / (SQRT(CAST(nq.norm2 AS DOUBLE)) * SQRT(CAST(nc.norm2 AS DOUBLE)))
         |      AS cosine
         |  FROM dots d
         |  JOIN norms nq ON d.query_id = nq.id
         |  JOIN norms nc ON d.neighbor_id = nc.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, cosine FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_lsh_bucketed" ->
      s"""WITH elems AS ($elemsSql),
         |buckets AS (
         |  SELECT id, SUM(CASE WHEN e_micro > 0
         |    THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS bucket
         |  FROM elems WHERE i <= 8 GROUP BY id),
         |norms AS (SELECT id, SUM(e_micro * e_micro) AS norm2
         |          FROM elems GROUP BY id),
         |cand AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id
         |  FROM buckets q JOIN buckets c
         |    ON q.bucket = c.bucket AND q.id <> c.id
         |  WHERE q.id % 50 = 0),
         |dots AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    SUM(qe.e_micro * ce.e_micro) AS dot
         |  FROM cand cd
         |  JOIN elems qe ON cd.query_id = qe.id
         |  JOIN elems ce ON cd.neighbor_id = ce.id AND qe.i = ce.i
         |  GROUP BY cd.query_id, cd.neighbor_id),
         |scored AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    CAST(d.dot AS DOUBLE)
         |      / (SQRT(CAST(nq.norm2 AS DOUBLE)) * SQRT(CAST(nc.norm2 AS DOUBLE)))
         |      AS cosine
         |  FROM dots d
         |  JOIN norms nq ON d.query_id = nq.id
         |  JOIN norms nc ON d.neighbor_id = nc.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann_ivf" ->
      s"""WITH elems AS ($elemsSql),
         |norms AS (SELECT id, SUM(e_micro * e_micro) AS norm2
         |          FROM elems GROUP BY id),
         |cents AS (SELECT id AS centroid_id, i, e_micro AS ce
         |          FROM elems WHERE id % 50 = 1),
         |vc AS (
         |  SELECT v.id, c.centroid_id, SUM(v.e_micro * c.ce) AS dot
         |  FROM elems v JOIN cents c ON v.i = c.i
         |  GROUP BY v.id, c.centroid_id),
         |vcs AS (
         |  SELECT vc.id, vc.centroid_id,
         |    CAST(vc.dot AS DOUBLE)
         |      / (SQRT(CAST(nv.norm2 AS DOUBLE)) * SQRT(CAST(nc.norm2 AS DOUBLE)))
         |      AS csim
         |  FROM vc
         |  JOIN norms nv ON vc.id = nv.id
         |  JOIN norms nc ON vc.centroid_id = nc.id),
         |assigned AS (
         |  SELECT id AS neighbor_id, centroid_id FROM (
         |    SELECT id, centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY id
         |        ORDER BY csim DESC, centroid_id) AS arank
         |    FROM vcs) WHERE arank = 1),
         |probes AS (
         |  SELECT id AS query_id, centroid_id FROM (
         |    SELECT id, centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY id
         |        ORDER BY csim DESC, centroid_id) AS crank
         |    FROM vcs WHERE id % 50 = 0) WHERE crank <= 2),
         |cand AS (
         |  SELECT p.query_id, a.neighbor_id
         |  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
         |  WHERE p.query_id <> a.neighbor_id),
         |dots AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |    SUM(qe.e_micro * ce.e_micro) AS dot
         |  FROM cand cd
         |  JOIN elems qe ON cd.query_id = qe.id
         |  JOIN elems ce ON cd.neighbor_id = ce.id AND qe.i = ce.i
         |  GROUP BY cd.query_id, cd.neighbor_id),
         |scored AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    CAST(d.dot AS DOUBLE)
         |      / (SQRT(CAST(nq.norm2 AS DOUBLE)) * SQRT(CAST(nc.norm2 AS DOUBLE)))
         |      AS cosine
         |  FROM dots d
         |  JOIN norms nq ON d.query_id = nq.id
         |  JOIN norms nc ON d.neighbor_id = nc.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, cosine FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
  )

  /** Semantic-dedup oracle: the ann_ivf assignment CTE chain over the
    * variant-extended corpus, a within-cluster ordered pair join, and
    * a NOT-EXISTS keep rule — the declarative statement of the
    * keep-first drop the Spark side computes with an anti-ish left
    * join. */
  private val semanticOracle: (String, String) = "dedup_semantic" ->
    s"""WITH base AS ($elemsSql),
       |elems AS (
       |  SELECT id, i, e_micro FROM base
       |  UNION ALL
       |  SELECT id + 10000, i, e_micro + 10000 * ((i % 3) - 1)
       |  FROM base WHERE id % 5 = 0),
       |norms AS (SELECT id, SUM(e_micro * e_micro) AS norm2
       |          FROM elems GROUP BY id),
       |cents AS (SELECT id AS centroid_id, i, e_micro AS ce
       |          FROM elems WHERE id % 50 = 1),
       |vc AS (
       |  SELECT v.id, c.centroid_id, SUM(v.e_micro * c.ce) AS dot
       |  FROM elems v JOIN cents c ON v.i = c.i
       |  GROUP BY v.id, c.centroid_id),
       |vcs AS (
       |  SELECT vc.id, vc.centroid_id,
       |    CAST(vc.dot AS DOUBLE)
       |      / (SQRT(CAST(nv.norm2 AS DOUBLE)) * SQRT(CAST(nc.norm2 AS DOUBLE)))
       |      AS csim
       |  FROM vc
       |  JOIN norms nv ON vc.id = nv.id
       |  JOIN norms nc ON vc.centroid_id = nc.id),
       |assigned AS (
       |  SELECT id, centroid_id FROM (
       |    SELECT id, centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY id
       |        ORDER BY csim DESC, centroid_id) AS arank
       |    FROM vcs) WHERE arank = 1),
       |cand AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.id < b.id),
       |dots AS (
       |  SELECT cd.id_a, cd.id_b, SUM(ea.e_micro * eb.e_micro) AS dot
       |  FROM cand cd
       |  JOIN elems ea ON cd.id_a = ea.id
       |  JOIN elems eb ON cd.id_b = eb.id AND ea.i = eb.i
       |  GROUP BY cd.id_a, cd.id_b),
       |dups AS (
       |  SELECT DISTINCT d.id_b AS id
       |  FROM dots d
       |  JOIN norms na ON d.id_a = na.id
       |  JOIN norms nb ON d.id_b = nb.id
       |  WHERE CAST(d.dot AS DOUBLE)
       |    / (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE)))
       |    >= 0.9)
       |SELECT a.id AS vec_id, a.centroid_id,
       |  (u.id IS NULL) AS kept
       |FROM assigned a LEFT JOIN dups u ON a.id = u.id
       |ORDER BY vec_id""".stripMargin

  /** The recall oracle composes the two gated search oracles VERBATIM
    * as derived tables, so it can never drift from them. */
  private val recallOracle: (String, String) = "ann_recall_ivf" ->
    s"""SELECT e.query_id,
       |  CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
       |FROM (SELECT * FROM (${searchOracles("ann_brute_force")})
       |      WHERE rank <= 3) e
       |LEFT JOIN (${searchOracles("ann_ivf")}) a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin

  private val pqOracle: (String, String) = "ann_pq" ->
    """WITH micro AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding,
      |      e -> CAST(ROUND(CAST(e AS DOUBLE) * 1e6) AS BIGINT)) AS emb
      |  FROM embeddings WHERE vec_id < 200),
      |sv AS (
      |  SELECT id, s.sub,
      |    emb[s.sub * 16 + 1 : s.sub * 16 + 16] AS sub_emb
      |  FROM micro, (SELECT unnest(range(0, 4)) AS sub) s),
      |cb AS (
      |  SELECT sub, id AS code, sub_emb AS cb_emb FROM sv WHERE id < 8),
      |dists AS (
      |  SELECT v.id, v.sub, c.code,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> (v.sub_emb[i] - c.cb_emb[i]) * (v.sub_emb[i] - c.cb_emb[i])))
      |      AS BIGINT) AS dist
      |  FROM sv v JOIN cb c ON v.sub = c.sub),
      |enc AS (
      |  SELECT id, sub, code FROM (
      |    SELECT id, sub, code,
      |      ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist, code)
      |        AS rk
      |    FROM dists) x WHERE rk = 1),
      |qd AS (
      |  SELECT id AS query_id, sub, code, dist AS qdist
      |  FROM dists WHERE id % 50 = 0),
      |adc AS (
      |  SELECT q.query_id, e.id, CAST(SUM(q.qdist) AS BIGINT) AS adist
      |  FROM enc e JOIN qd q ON e.sub = q.sub AND e.code = q.code
      |  GROUP BY q.query_id, e.id),
      |ranked AS (
      |  SELECT query_id, id AS neighbor_id, adist,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adist, id) AS INT) AS rank
      |  FROM adc WHERE query_id <> id)
      |SELECT query_id, neighbor_id, rank, adist FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val recallPqOracle: (String, String) = "ann_recall_pq" ->
    s"""SELECT e.query_id,
       |  CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
       |FROM (SELECT * FROM (${searchOracles("ann_brute_force")})
       |      WHERE rank <= 3) e
       |LEFT JOIN (${pqOracle._2}) a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin

  private val randomProjectionOracle: (String, String) =
    "embed_random_projection" ->
      s"""WITH elems AS ($elemsSql),
         |signs AS (
         |  SELECT d.i, t.j,
         |    CASE WHEN CAST(('0x' || substr(md5(
         |        CAST(t.j AS VARCHAR) || ':' || CAST(d.i AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT DISTINCT i FROM elems) d, generate_series(1, 8) t(j))
         |SELECT e.id, CAST(g.j AS BIGINT) AS j,
         |  CAST(SUM(e.e_micro * g.s) AS BIGINT) AS y_micro
         |FROM elems e JOIN signs g ON e.i = g.i
         |GROUP BY e.id, g.j
         |ORDER BY id, j""".stripMargin

  val oracles: Map[String, String] =
    searchOracles + recallOracle + recallPqOracle + semanticOracle +
      pqOracle + randomProjectionOracle
}
