package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Retrieval, Similarity}

/** Bench-only queries (no DuckDB oracle): the LLM dedup/ANN operators
  * over the FULL documents/embeddings corpus at the bench's SF, so the
  * 100 TB scale designs get a measured scaling curve instead of the
  * fixed `doc_id < 200` fixture clamp (which keeps the ORACLE queries
  * scale-invariant by design). Not part of `SparkEntry.queries` — the
  * correctness gate covers the same operators on the clamped corpus.
  */
object BenchExtra {
  type Q = (SparkSession, String) => DataFrame

  /** Per-key workload revision, bumped whenever a key KEEPS its name
    * but changes workload (the r7 ADVICE item: curve.py comparing legs
    * across such a boundary under one key silently mixes two different
    * workloads). Keys absent here are rev 1. Bench emits this as
    * `workload_rev` in target/bench.json; curve.py warns when legs
    * disagree. History:
    *  - r7: bench_bm25_full grow-with-corpus → constant 50 queries;
    *    bench_ann_lsh_full / bench_ann_pq_full → constant 40 queries;
    *    retrieval_bm25_topk / retrieval_pipeline_e2e fixture query
    *    load clamped to 50 above sf0.1.
    *  - r8: bench_incremental_full / bench_index_probe_full probe
    *    batch clamped to a constant 500 docs AND re-keyed by a
    *    corpus-derived disjoint offset (the +50000 id collision at
    *    sf10); all fixtureCorpus-based bench keys moved to
    *    fixtureCorpusScaled (the +10000/+20000 variant offsets
    *    collide with base ids at sf ≥ 1 — identical doc sets at
    *    sf0.1, so that series stays comparable); bench_cdc_full's
    *    revision offset corpus-derived (+900000 collides at sf ≥ ~18). */
  val workloadRev: Map[String, Int] = Map(
    // r11 (VERDICT r10 item 6 — both keys changed semantics in r10
    // WITHOUT a bump; rev 3 retroactively marks the break so curve.py
    // flags legs straddling it):
    //  - bench_bm25_index_build_full: r10 added the blockmax table to
    //    the build (3.6→7.6 s); r11 makes it opt-in and the build key
    //    measures the recommended (no-summary) layout again — rev-2
    //    legs are comparable to NEITHER side;
    //  - bench_bm25_index_probe_full: the r10 probe-batch memo
    //    redefined the timed region (the 50-query batch is collected
    //    once per fixture dir in warmup and replayed as a
    //    LocalTableScan, so the timed pass stopped paying a
    //    corpus-linear docs scan per probe).
    "bench_bm25_index_build_full" -> 3,
    "bench_bm25_index_probe_full" -> 3,
    "bench_bm25_full" -> 2,
    "bench_ann_lsh_full" -> 2,
    "bench_ann_pq_full" -> 2,
    "retrieval_bm25_topk" -> 2,
    "retrieval_pipeline_e2e" -> 2,
    "bench_incremental_full" -> 2,
    "bench_index_probe_full" -> 2,
    "bench_minhash_full" -> 2,
    "bench_minhash_xx_full" -> 2,
    "bench_minhash_rowlocal_full" -> 2,
    "bench_minhash_rowlocal_xx_full" -> 2,
    "bench_simhash_full" -> 2,
    "bench_simhash_xx_full" -> 2,
    "bench_simhash64_xx_full" -> 2,
    "bench_fingerprint_xx_full" -> 2,
    "bench_jaccard_full" -> 2,
    "bench_containment_full" -> 2,
    "bench_clusters_full" -> 2,
    "bench_substring_spans_full" -> 2,
    "bench_substring_clean_full" -> 2,
    "bench_cdc_full" -> 2,
  )

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Probe batch for the incremental-dedup bench rows, clamped to a
    * CONSTANT size from sf0.1 up (every 10th doc among the first
    * 5,000 ids → 500 docs; a no-op at sf0.1 where the corpus IS 5,000
    * docs, so the recorded sf0.1 series stays comparable — the r7
    * query-set sizing rule: a probe batch growing with the corpus
    * measures batch×corpus growth — r7's sf1→sf10 step read 20.9×
    * and looked like a scaling defect) and
    * re-keyed past the corpus id space by a corpus-derived offset.
    * The r7-era fixed `doc_id + 50000` offset COLLIDED at sf ≥ 10
    * (corpus ids 0–499,999 vs batch ids 50,000–549,999), silently
    * violating the incremental operators' id-disjointness contract
    * (Dedup.incrementalLshPairs doc) and corrupting the verify stage,
    * which unions element rows of two different documents under one
    * id. The offset is now max(doc_id)+1 — disjoint at every sf by
    * construction, and asserted here rather than assumed. */
  private def disjointProbeBatch(corpus: DataFrame,
      clamp: Boolean = true): DataFrame = {
    val maxId = corpus.agg(max("doc_id")).head().getLong(0)
    require(maxId >= 0 && maxId < Long.MaxValue - 600000L,
      s"probe batch: corpus doc_id range unusable (max=$maxId)")
    val base =
      if (clamp) corpus.filter(col("doc_id") % 10 === 0 &&
        col("doc_id") < 5000)
      else corpus.filter(col("doc_id") % 10 === 0)
    // batch ids start at maxId+1 ⇒ min(batch) > max(corpus): disjoint.
    base.select((col("doc_id") + lit(maxId + 1L)).as("doc_id"),
      col("text"))
  }

  /** sfDir the standing bm25 postings index was last built for IN THIS
    * JVM — [[bench_bm25_index_probe_full]] rebuilds on first use (or a
    * dir change) and probes-only thereafter, so its TIMED pass (which
    * always follows the warmup pass in the same JVM) measures the
    * steady-state serving cost, not build+probe. Never trusts an index
    * left in spark-warehouse by another JVM/leg: the memo starts empty
    * every run, so a stale on-disk index from a different SF can never
    * serve a probe. */
  private val bm25IdxBuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Separate standing index FOR THE BLOCK-MAX PROBE KEYS ONLY, built
    * with the opt-in block summary (blockCount = 256 — the r10 layout
    * those keys measure). Since r11 the default build skips the
    * summary (the block-max probe lost the serving bakeoff, so the
    * recommended path stopped paying its build cost — VERDICT r10
    * item 2); the negative-result keys keep measuring the real thing
    * against their own prefix instead of forcing the cost onto
    * bench_bm25_index_build_full. */
  private val bm25BmxIdxBuiltFor =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  private def withBmxIdx(s: SparkSession, dir: String): Unit = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    if (bm25BmxIdxBuiltFor.get != dir) {
      Retrieval.writePostingsIndex(d, "bench_bm25_bmx_idx",
        blockCount = 256)
      bm25BmxIdxBuiltFor.set(dir)
    }
  }

  /** The constant 50-query probe batch for [[bench_bm25_index_probe_full]],
    * collected ONCE per fixture dir (50 tiny rows — a bounded,
    * documented driver-side collect) and replayed as a LocalTableScan:
    * deriving it by filtering the full docs table every run made the
    * timed "steady-state serving" pass pay a corpus-linear parquet
    * scan at each sf, diluting the probe-vs-full delta the key exists
    * to isolate (r9 ADVICE). The memo fills during the warmup pass. */
  private val bm25ProbeBatch =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, String)]]()

  private def bm25ProbeQueries(s: SparkSession, dir: String): DataFrame = {
    val batch = bm25ProbeBatch.computeIfAbsent(dir, d =>
      docs(s, d).filter(col("doc_id") % 100 === 0 && col("doc_id") < 5000)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))))
    import s.implicits._
    s.createDataset(batch.toIndexedSeq).toDF("query_id", "text")
  }

  private def microElems(s: SparkSession, dir: String): DataFrame =
    embs(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("vec_id").as("id"), (col("pos") + 1).as("i"),
        round(col("e").cast("double") * 1e6).cast("long").as("e_micro"))

  // Measured (sf0.1): persisting the shingle frame (MEMORY_AND_DISK)
  // across the 3-4 consuming plan arms REGRESSED jaccard 43.6→80.6 s —
  // serializing ~7M shingle rows to cache costs more than re-running
  // the codegen'd transform+explode per arm. Recompute wins; the
  // *FromShingles APIs still let a caller with a hot cache reuse one.

  val queries: Map[String, Q] = Map(
    "bench_minhash_full" -> ((s, dir) =>
      Dedup.minHashLshPairsFromShingles(
        Dedup.charShingles(Dedup.fixtureCorpusScaled(docs(s, dir))), 0.5)),
    "bench_minhash_xx_full" -> ((s, dir) =>
      // the production hash family (xxhash64 seeds, no md5 in the
      // per-shingle loop) — same banding + exact verify; the delta vs
      // bench_minhash_full is the md5 portability cost the oracle
      // -verified twin pays
      Dedup.minHashLshPairsXxFromShingles(
        Dedup.charShingles(Dedup.fixtureCorpusScaled(docs(s, dir))), 0.5)),
    "bench_simhash_full" -> ((s, dir) =>
      Dedup.simHashNearPairs(Dedup.simHash(Dedup.fixtureCorpusScaled(docs(s, dir))))),
    "bench_simhash_xx_full" -> ((s, dir) =>
      Dedup.simHashNearPairs(Dedup.simHashXx(Dedup.fixtureCorpusScaled(docs(s, dir))))),
    "bench_fingerprint_xx_full" -> ((s, dir) =>
      // production twin of the core-suite doc_fingerprint (md5 min-
      // shingle + md5Long token hashing stay the oracle-gated forms)
      Dedup.fixtureCorpusScaled(docs(s, dir)).select(col("doc_id"),
        graft.llm.TextAnalysis.rollingHash(col("text")).as("rolling_hash"),
        graft.llm.TextAnalysis.minShingleFingerprintXx(col("text"))
          .as("min_shingle_xx"))),
    "bench_jaccard_full" -> ((s, dir) =>
      // Measures capped-candidate Jaccard at THE SAME cap the oracle
      // gate verifies (df ≤ 20). The synthetic corpus is heavily
      // templated (bounded ~32k-shingle vocabulary), so the cap-20
      // candidate mass is bounded by cap²·|vocab| independent of n
      // and empirically FALLS with corpus growth (186k pairs at sf1
      // → 12k at sf10 — BASELINE.md r8 analysis); the decade step is
      // the linear shingle-mass stages, exactly linear by design. On
      // such a corpus the df cap IS the recall/cost knob and
      // MinHash-LSH (bench_minhash_xx_full) is the production path.
      Dedup.jaccardPairs(
        Dedup.charShingles(Dedup.fixtureCorpusScaled(docs(s, dir))), 0.5,
        Dedup.fixtureShingleDfCap)),
    "bench_cosine_full" -> ((s, dir) =>
      // DEFAULT-parameter path: since r7 the defaults auto-size
      // (bands, bits) from an approx_count_distinct of the corpus —
      // this key and bench_cosine_scaled_full (explicit sizing) must
      // track each other; the r6-era fixed-4×8 default measured 19.3×
      // at the sf1 decade and is gone from the default path
      Dedup.cosineNearDupPairs(microElems(s, dir), 0.9)),
    "bench_minhash_rowlocal_full" -> ((s, dir) =>
      // row-local md5 path (the native kernel, i.e. minHashLshPairs) —
      // delta vs bench_minhash_full is what the shingle explode, the
      // string min aggregate and the verify-set rebuild cost
      Dedup.minHashLshPairsRowLocal(
        Dedup.fixtureCorpusScaled(docs(s, dir)), 0.5)),
    "bench_minhash_rowlocal_xx_full" -> ((s, dir) =>
      Dedup.minHashLshPairsRowLocal(
        Dedup.fixtureCorpusScaled(docs(s, dir)), 0.5, xx = true)),
    "bench_clusters_full" -> ((s, dir) =>
      // connected components over the FULL-corpus xx pair graph — the
      // iterative label-propagation loop measured at bench volume
      // (the oracle key runs it on the clamped fixture only)
      Dedup.nearDupClusters(Dedup.minHashLshPairsXxFromShingles(
        Dedup.charShingles(Dedup.fixtureCorpusScaled(docs(s, dir))), 0.5))),
    "bench_ann_lsh_full" -> ((s, dir) => {
      // constant query load above sf0.1 (the query-set sizing rule:
      // a query set growing with the corpus measures query·doc
      // growth, not corpus scaling) — 40 queries at sf0.1 and beyond
      val e = embs(s, dir)
      Similarity.lshTopK(e,
        e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000), 5)
    }),
    "bench_bm25_full" -> ((s, dir) => {
      // THE default BM25 bench (r7 swap): BM25 float path over the
      // full corpus at CONSTANT query load (50 queries at sf0.1 and
      // above) — one postings shuffle, broadcast df/qterms/stats,
      // per-query top-10. Query-set sizing rule: a bench whose query
      // set grows with the corpus measures query·doc growth (100× per
      // decade — r6 read 16.8× and it looked like a regression), not
      // corpus scaling; fix the query set to isolate the corpus side
      // (r6 measured 3.5×/decade here). The grow-with-corpus form
      // lives on as bench_bm25_growq_full; pre-r7 bench_bm25_full
      // series are the grow-q numbers (BASELINE.md note).
      val d = docs(s, dir)
      Retrieval.bm25TopK(d, d.filter(col("doc_id") % 100 === 0 &&
          col("doc_id") < 5000)
        .select(col("doc_id").as("query_id"), col("text")), 10)
    }),
    "bench_bm25_growq_full" -> ((s, dir) => {
      // query set grows with the corpus (every 100th doc): measures
      // combined query·doc scaling — kept beside the fixed-q default
      // because per-query cost under a growing load is also a real
      // production question; its decade step is NOT corpus scaling
      val d = docs(s, dir)
      Retrieval.bm25TopK(d, d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("text")), 10)
    }),
    "bench_pipeline_full" -> ((s, dir) =>
      // the curation recipe end-to-end over the UNclamped corpus at
      // bench SF (the oracle key runs it at sf0.01): quality filter →
      // exact dedup → eval holdout → ratio decontamination → split →
      // shuffle-shard, measured as one dataflow
      graft.llm.Curation.pipelineE2e(docs(s, dir))),
    "bench_semantic_dedup_full" -> ((s, dir) => {
      // SemDeDup float path over the UNclamped embedding corpus:
      // k-means codebook (k ≈ √n) + cluster-scoped cosine pair pruning
      // — the measured scaling curve for the cluster-bounded pair work
      // (the oracle key runs the micro-int twin on the clamped corpus)
      val e = embs(s, dir)
      val k = math.max(4, math.sqrt(e.count().toDouble).toInt)
      Similarity.semanticDedup(e, Similarity.trainCentroids(e, k), 0.95)
    }),
    "bench_perplexity_full" -> ((s, dir) =>
      // CCNet tertile bucketing over the full corpus at bench SF: LM
      // train+score plus the bounded value-count threshold pass — the
      // threshold stage must stay corpus-size-independent (its frame
      // is capped by the [0,1e6] score range)
      graft.llm.Curation.perplexityBuckets(docs(s, dir))),
    "bench_cdc_full" -> ((s, dir) => {
      // content-defined chunking dedup report over the full corpus
      // with every 10th doc re-ingested as a prefix-edited revision:
      // the row-local chunk pass dominates and must scale linearly.
      // Revision ids are corpus-derived (the old literal +900000
      // collides with base ids at sf ≥ ~18 — same class as the
      // fixtureCorpusScaled fix)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val off = d.agg(max("doc_id")).head().getLong(0) + 1L
      Dedup.cdcDedupReport(d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(off)).as("doc_id"),
            concat(lit("REV2 "), col("text")).as("text"))))
    }),
    "bench_lm_score_full" -> ((s, dir) =>
      // train + score the bigram LM over the full corpus at bench SF:
      // two token-key groupBys (map-side combined) + one broadcast
      // scoring join — the shape that must stay flat per-row at 100 TB
      graft.llm.TextAnalysis.lmScore(docs(s, dir))),
    "bench_chunk_full" -> ((s, dir) =>
      // row-local sliding-window chunking of the full corpus — the
      // map-only path whose cost is pure codegen throughput
      graft.llm.TextAnalysis.chunkDocs(docs(s, dir), 32, 24)),
    "bench_paragraph_dedup_full" -> ((s, dir) =>
      // corpus-wide paragraph dedup over the full corpus with planted
      // per-lang/source boilerplate (the oracle key's fixture shape at
      // bench SF): posexplode → md5-key keeper election → semi-join →
      // ordered reassembly
      graft.llm.Curation.paragraphDedup(
        docs(s, dir).select(col("doc_id"),
          concat(lit("HDR "), col("lang"), lit("\n"),
            substring(col("text"), 1, 80), lit("\n"),
            lit("FTR "), col("source")).as("text")))),
    "bench_ann_pq_full" -> ((s, dir) => {
      // trained PQ end-to-end over the UNclamped embedding corpus:
      // per-subspace k-means (√n-capped sample, concurrent fits) +
      // one-broadcast-join encode + ADC search; query load constant
      // above sf0.1 (40 queries) per the query-set sizing rule —
      // the corpus side is what must scale
      val e = embs(s, dir)
      Similarity.pqSearch(e,
        e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000), 5,
        kCodes = 16)
    }),
    "bench_substring_spans_full" -> ((s, dir) =>
      // Lee et al. exact-substring spans over the UNclamped fixture
      // corpus at bench SF: the corpus×n gram explode + gram-hash
      // election + per-doc island merge — the dominant cost is the
      // map-side gram projection, which must scale linearly
      Dedup.substringSpanStats(Dedup.fixtureCorpusScaled(docs(s, dir)))),
    "bench_substring_clean_full" -> ((s, dir) =>
      // the corpus REWRITE on top of the same spans: collected per-doc
      // ranges applied as a row-local indexed array filter
      Dedup.removeDuplicatedSpans(Dedup.fixtureCorpusScaled(docs(s, dir)))),
    "bench_incremental_full" -> ((s, dir) => {
      // batch-vs-corpus dedup at bench SF: the full corpus is the
      // standing side, a CONSTANT 5k-doc batch (disjoint ids — see
      // disjointProbeBatch) re-ingested as the probe — candidate work
      // must track the BATCH size, so with the batch fixed the decade
      // step isolates the corpus side (r8 fixture fix; pre-r8 series
      // grew the batch with the corpus AND collided ids at sf10)
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalLshPairs(corpus, disjointProbeBatch(corpus), 0.5)
    }),
    "bench_incremental_growbatch_full" -> ((s, dir) => {
      // growing-batch contrast row (every 10th doc of the WHOLE
      // corpus): measures batch×corpus candidate growth — its decade
      // step is NOT corpus scaling (the bench_bm25_growq_full
      // precedent); the clamped default above isolates the corpus side
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.incrementalLshPairs(corpus,
        disjointProbeBatch(corpus, clamp = false), 0.5)
    }),
    "bench_bpe_encode_full" -> ((s, dir) => {
      // tokenizer train + apply at bench SF: 8 merge rounds over the
      // vocabulary-sized word frame, then the corpus re-tokenized via
      // the broadcast vocabulary encodings
      val d = docs(s, dir)
      val merges = graft.llm.TextAnalysis.trainBpeMerges(d, 8)
        .map(m => (m._1, m._2))
      graft.llm.TextAnalysis.bpeEncode(d, merges)
    }),
    "bench_index_probe_full" -> ((s, dir) => {
      // standing-index probe at bench SF: the full corpus signed and
      // STORED once (cost included here — linear by design), then a
      // CONSTANT 5k-doc disjoint-id batch probes it — the steady-state
      // cost is the probe side only (see LlmSpec's single-exchange
      // plan pin); with the batch fixed, the decade step above the
      // index write isolates corpus-side scaling (r8 fixture fix)
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.writeDedupIndex(corpus, "bench_dedup_idx")
      Dedup.incrementalLshPairsFromIndex("bench_dedup_idx",
        disjointProbeBatch(corpus), 0.5)
    }),
    "bench_approx_distinct_full" -> ((s, dir) =>
      // the PRODUCTION half of agg_approx_distinct: the HLL sketch
      // alone. The gated key ALSO computes two exact countDistinct
      // columns purely to verify the sketch against the oracle, and
      // Spark plans a multi-column distinct agg via a 3x row EXPAND +
      // two shuffles — that verification-side cost is what stepped
      // 12.8x/decade in the r9 isolated sf10 legs (and got WORSE at
      // 256 partitions), not the mergeable sketch this row measures
      graft.Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps"))
        .orderBy("l_returnflag")),
    "bench_bm25_index_build_full" -> ((s, dir) => {
      // standing lexical index BUILD at bench SF: the one-time linear
      // cost a corpus snapshot pays (postings shuffle + dl denorm join
      // + df agg + meta, all persisted bucketed on their join keys) —
      // the write-side row of the build/probe split, the lexical twin
      // of bench_index_probe_full's write stage. Returns the meta row.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      Retrieval.writePostingsIndex(d, "bench_bm25_idx")
      bm25IdxBuiltFor.set(dir)
      s.table("bench_bm25_idx_meta")
    }),
    "bench_bm25_index_probe_full" -> ((s, dir) => {
      // standing lexical index PROBE at bench SF: a CONSTANT 50-query
      // batch (the bench_bm25_full query set) against the stored
      // postings — the steady-state serving path, paying NO corpus
      // re-tokenization (the r8 plan audit attributed the whole linear
      // term of bench_bm25_full to exactly that per-run cost). The
      // index is built on first use per JVM/dir (the warmup pass, or
      // this timed call itself when run alone) and reused thereafter —
      // see bm25IdxBuiltFor; delta vs bench_bm25_full at each scale is
      // what the standing index saves per batch.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      if (bm25IdxBuiltFor.get != dir) {
        Retrieval.writePostingsIndex(d, "bench_bm25_idx")
        bm25IdxBuiltFor.set(dir)
      }
      Retrieval.bm25TopKFromIndex("bench_bm25_idx",
        bm25ProbeQueries(s, dir), 10)
    }),
    "bench_bm25_index_probe_seldf_full" -> ((s, dir) => {
      // stopword-pruned probe (maxDfFrac = 0.2): the production
      // serving knob beside the exact probe row — on a Zipf corpus
      // the handful of head terms that sit in >20% of documents carry
      // most of the scoring-join volume while contributing idf ≤
      // ln(1+4) ≈ 1.61 per term (vs ~5-6 for tail terms); pruning
      // them is the Lucene-stopword / MaxScore move. APPROXIMATE by
      // design (RetrievalSpec pins direct/index agreement under the
      // same knob, and the exact row above stays the gate); the delta
      // vs bench_bm25_index_probe_full is what the knob buys per batch.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      if (bm25IdxBuiltFor.get != dir) {
        Retrieval.writePostingsIndex(d, "bench_bm25_idx")
        bm25IdxBuiltFor.set(dir)
      }
      Retrieval.bm25TopKFromIndex("bench_bm25_idx",
        bm25ProbeQueries(s, dir), 10, maxDfFrac = 0.2)
    }),
    "bench_bm25_index_probe_2p_full" -> ((s, dir) => {
      // EXACT two-phase MaxScore probe (tail-selective phase 1, the
      // candidate-bounded head rescore, per-query exactness
      // certificate with one-phase fallback): same results as the
      // exact probe row, expected near the seldf row's cost where the
      // certificate holds — the exact serving path at scale
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      if (bm25IdxBuiltFor.get != dir) {
        Retrieval.writePostingsIndex(d, "bench_bm25_idx")
        bm25IdxBuiltFor.set(dir)
      }
      Retrieval.bm25TopKFromIndexTwoPhase("bench_bm25_idx",
        bm25ProbeQueries(s, dir), 10)
    }),
    "bench_bm25_index_probe_shortq_full" -> ((s, dir) => {
      // SHORT-query serving pair, one-phase exact: the standard probe
      // batch truncated to its first 6 words — real serving queries
      // are 2-10 terms, not 50-term documents; this pair isolates the
      // query-length regime where WAND-class pruning operates
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      if (bm25IdxBuiltFor.get != dir) {
        Retrieval.writePostingsIndex(d, "bench_bm25_idx")
        bm25IdxBuiltFor.set(dir)
      }
      Retrieval.bm25TopKFromIndex("bench_bm25_idx",
        bm25ProbeQueries(s, dir)
          .select(col("query_id"),
            substring_index(col("text"), " ", 6).as("text")), 10)
    }),
    "bench_bm25_index_probe_2p_shortq_full" -> ((s, dir) => {
      // short-query serving pair, two-phase exact with certificate
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      if (bm25IdxBuiltFor.get != dir) {
        Retrieval.writePostingsIndex(d, "bench_bm25_idx")
        bm25IdxBuiltFor.set(dir)
      }
      Retrieval.bm25TopKFromIndexTwoPhase("bench_bm25_idx",
        bm25ProbeQueries(s, dir)
          .select(col("query_id"),
            substring_index(col("text"), " ", 6).as("text")), 10)
    }),
    "bench_bm25_index_probe_bmx_full" -> ((s, dir) => {
      // EXACT block-max probe (doc_id-range blocks, seed-then-prune —
      // Ding & Suel recast relationally): always exact, no per-query
      // fallback cliff. Measured r10: loses to the two-phase probe at
      // every scale — the keep-list prunes after the scoring join, so
      // it cuts agg volume but not the posting stream (BASELINE r10
      // block-max section); kept as the documented negative result.
      // Probes its OWN block-summary-bearing index (withBmxIdx) since
      // the r11 opt-in split — the probe-side layout and cost are
      // unchanged (same postings/df tables, same plan).
      withBmxIdx(s, dir)
      Retrieval.bm25TopKFromIndexBlockMax("bench_bm25_bmx_idx",
        bm25ProbeQueries(s, dir), 10)
    }),
    "bench_bm25_index_probe_bmx_shortq_full" -> ((s, dir) => {
      // short-query serving pair, block-max exact
      withBmxIdx(s, dir)
      Retrieval.bm25TopKFromIndexBlockMax("bench_bm25_bmx_idx",
        bm25ProbeQueries(s, dir)
          .select(col("query_id"),
            substring_index(col("text"), " ", 6).as("text")), 10)
    }),
    "bench_hits_report_full" -> ((s, dir) => {
      // production HITS path: convergence-reported early stop beside
      // the fixed-10-iteration gated twin (graph_hits) — the report
      // costs one node-cardinality agg per half-step, and once both
      // half-step L1 movements settle under tolMicro the remaining
      // rounds are refunded (the geometric-convergence contract,
      // LinkGraph.hitsWithReport doc); tolMicro 20000 micro = the
      // LinkGraphSpec early-stop pin
      val (scores, report) = graft.llm.LinkGraph.hitsWithReport(
        graft.llm.LinkGraph.fixtureEdges(s, dir), maxIters = 10,
        tolMicro = 20000L)
      require(report.nonEmpty, "bench_hits_report_full: empty report")
      scores
    }),
    "bench_qerror_approx_full" -> ((s, dir) =>
      // production q-error: percentile_approx sketch (bounded
      // mergeable state) beside the exact-percentile gated twin whose
      // single global sort buffer is corpus-sized at 100 TB
      graft.analytics.Metrics.qerrorApprox(s, dir)),
    "bench_containment_full" -> ((s, dir) =>
      // asymmetric containment pairs over the UNclamped dedup corpus
      // at bench SF: same capped candidate join as the jaccard row,
      // verify divides by the smaller set instead of the union
      Dedup.containmentPairs(
        Dedup.charShingles(Dedup.fixtureCorpusScaled(docs(s, dir))), 0.9,
        Dedup.fixtureShingleDfCap)),
    "bench_gopher_full" -> ((s, dir) => {
      // the full Gopher rule battery over every doc at bench SF —
      // map-only row-local string/array expressions, the widest
      // pure-projection bench row (must stay scan-bound)
      val cols = graft.llm.TextAnalysis.gopherRuleColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      docs(s, dir).select((col("doc_id") +: cols): _*)
    }),
    "bench_importance_full" -> ((s, dir) =>
      // DSIR hashed-bigram importance weights over the full corpus at
      // bench SF: bigram explode + one bucket groupBy + broadcast
      // log-ratio join back + per-doc sum
      graft.llm.Curation.importanceResample(
        docs(s, dir), col("source") === "src0")),
    "bench_winnow_xx_full" -> ((s, dir) =>
      // the xxhash64 production winnowing family beside the md5-gated
      // doc_winnow_fingerprint key — the usual portability-cost split
      graft.llm.TextAnalysis.winnowedFingerprintsXx(docs(s, dir))),
    "bench_simhash64_xx_full" -> ((s, dir) =>
      // the corpus-sized 64-bit SimHash production entry
      // (simHashNearDups = simHash64Xx + 4×16-bit bands, 65,536
      // buckets each where the 32-bit gated form has 256 — the
      // fingerprint-width scale knob); same pigeonhole at hamming ≤ 3
      Dedup.simHashNearDups(Dedup.fixtureCorpusScaled(docs(s, dir)))),
    "bench_cosine_scaled_full" -> ((s, dir) => {
      // sign-LSH with corpus-sized (bands, bits) instead of the fixed
      // 4×8 default — the chance-collision mass stays ~linear in n on
      // structure-free random vectors (the fixture's worst case)
      val n = embs(s, dir).count()
      val (bands, bits) = Dedup.scaledSignLshParams(n)
      Dedup.cosineNearDupPairs(microElems(s, dir), 0.9, bands, bits)
    }),
    "bench_synth_runner" -> ((s, dir) => {
      // Sequential workload-runner throughput on 48 reference-shaped
      // synthetic queries (join chains / IN-lists / CAST-LIKE) at the
      // bench SF — the reference's run_workload loop measured as a
      // whole, per-query NDJSON log included. NoopDrain keeps the
      // timing on the engine, not driver materialization. The bench
      // wall-clock / 48 is the per-query runner overhead + execution.
      import s.implicits._
      val out = java.nio.file.Files
        .createTempDirectory("graft_bench_synth").toString
      val rs = graft.sources.SyntheticWorkload.generateAndRun(
        s, dir, out, n = 48, seed = 42L,
        drain = graft.sources.WorkloadRunner.NoopDrain)
      val failed = rs.filter(_.runtimeS < 0)
      require(failed.isEmpty,
        s"bench_synth_runner: ${failed.size} queries failed " +
          failed.take(3).map(_.queryId).mkString(","))
      rs.toDF()
    }),
  )
}
