package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Lexical retrieval + hybrid rank fusion (north-star extension — the
  * reference has no retrieval surface; companions to [[Similarity]]'s
  * dense ANN paths for the RAG/eval side of a training-data pipeline).
  *
  *  - BM25 (Robertson & Zaragoza 2009, "The Probabilistic Relevance
  *    Framework: BM25 and Beyond", §3.3) — Lucene-style IDF
  *    `ln(1 + (N−df+0.5)/(df+0.5))`, k1=1.2, b=0.75, query term
  *    frequency ignored (distinct query terms), ties broken by doc id.
  *  - Token-set Jaccard ranking — the set-overlap scorer the dedup
  *    layer already trusts ([[Dedup]]), reused as a second
  *    independent lexical list.
  *  - Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR 2009):
  *    `score(d) = Σ_lists 1/(kRrf + rank_list(d))`, kRrf=60 — fuses
  *    ANY ranked lists (lexical+dense hybrid in production; the
  *    fixture fuses the two lexical lists so the multi-list merge path
  *    is actually exercised — the synthetic embeddings are
  *    uncorrelated with document text, so a lexical+dense fixture pair
  *    would never overlap and `n_lists=2` would go untested).
  *
  * Scale design (100 TB corpus, small query set):
  *  - the corpus is tokenized ONCE into a postings frame (explode +
  *    one map-side-combining groupBy — the same single-shuffle shape
  *    as [[TextAnalysis.idfScore]]);
  *  - document frequencies are a VOCABULARY-sized frame — never
  *    shuffled onto the skewed term key (stopword reducers are the
  *    classic BM25-at-scale trap; see the r4 idfScore advice), and
  *    never broadcast whole either: a web-corpus vocabulary is
  *    billions of terms, so the df frame is first semi-joined down to
  *    the (tiny, broadcastable) distinct query vocabulary — only THAT
  *    pruned frame is broadcast;
  *  - query terms are tiny (|queries|·|terms/query|) — broadcast, so
  *    the inverted-index probe `qterms ⋈ postings ON term` is a
  *    broadcast hash join that streams the postings side with no
  *    corpus shuffle; only the ~|matching postings| survivors reach
  *    the (query,doc) partial-score aggregation;
  *  - corpus-level stats (N, total length) are a one-row frame,
  *    broadcast via crossJoin;
  *  - the per-query top-k window partitions on query_id (bounded by
  *    k·|queries| rows after aggregation — no unpartitioned window);
  *  - the two standing-index probes ([[bm25TopKFromIndex]],
  *    [[bm25TopKFromIndexTwoPhase]]) read one core, [[ProbeBatch]]: a
  *    serving batch of at most [[MaxBatch]] queries collected once
  *    (a larger one fails fast), its vocabulary's df looked up in one
  *    bounded collect and pushed into the stored scans as an IN-set —
  *    one plan shape, no unbounded driver-side collect.
  *
  * Fixture queries run the scoring in micro-scaled exact integers
  * (every `ln`/division rounded to a BIGINT of micro-units at each
  * elementary step, sums taken over integers so accumulation order
  * cannot flip a rank — the [[Similarity]] micro-kernel discipline);
  * the float path below is the production form.
  */
object Retrieval {

  // ---------------------------------------------------- float path

  /** Production BM25 top-k: `queries(query_id, text)` against
    * `corpus(doc_id, text)`, whitespace tokenization, scores in
    * doubles. Returns (query_id, rank, doc_id, bm25). Doc-as-query
    * convention: a candidate whose doc_id EQUALS the query_id is
    * excluded (self-match suppression for more-like-this queries);
    * callers with an independent query-id space are unaffected as
    * long as their ids don't collide with corpus ids. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    val qterms = queries
      .select(col("query_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    topKPerQuery(bm25PartialsF(corpus, qterms, k1, b, maxDfFrac), k)
  }

  /** Shared BM25 partial-score pipeline (float): one row per
    * (query_id, doc_id, term) with the BM25 term contribution. */
  private def bm25PartialsF(corpus: DataFrame, qterms: DataFrame,
      k1: Double, b: Double, maxDfFrac: Double): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dl from tf (one doc-key groupBy over the distinct-term frame),
    // NOT a second shuffle of the full token stream
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("total_len"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // dfreq is VOCABULARY-sized (billions of terms on a web corpus) —
    // broadcasting it whole is a driver/executor OOM at 100×. Only the
    // query-vocabulary subset is ever consumed (the stream side is
    // already pruned by `broadcast(qterms) ⋈ tf`), so semi-join it down
    // to |query vocab| rows first; THAT frame is bounded and broadcast-
    // safe. Contrast idfScore/lmScore, which score every token and must
    // carry the full vocab by design.
    val qdfreqAll = dfreq.join(
      broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
    // optional stopword pruning — [[bm25TopKFromIndex]]'s maxDfFrac
    // knob, applied here so the two paths agree under the same setting
    // (the inner join on the pruned broadcast drops the term's
    // partials; the index path drops its postings at the scan)
    val qdfreq = if (maxDfFrac < 1.0)
      qdfreqAll.crossJoin(broadcast(dl.agg(count(lit(1)).as("nd"))))
        .filter(col("df") <= lit(maxDfFrac) * col("nd")).drop("nd")
    else qdfreqAll
    broadcast(qterms)
      .join(tf, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(qdfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("bm25_term", bm25Term(col("n_docs"), col("avgdl"), k1, b))
  }

  // ------------------------------------------ standing lexical index

  /** Persist the STANDING BM25 postings index of a live corpus — the
    * lexical twin of [[Dedup.writeCosineIndex]]/[[Dedup.writeDedupIndex]],
    * so the serving path ([[bm25TopKFromIndex]]) stops re-paying the
    * corpus tokenization every query batch (the r8 plan audit: the
    * whole linear term of `bench_bm25_full` and the three retrieval
    * composite keys IS that per-run re-tokenization — the reference's
    * run_workload loop repeatedly queries a static corpus, exactly the
    * standing-index shape). Written tables:
    *  - `<prefix>_postings` (term, doc_id, tf, dl) bucketed on term —
    *    the doc length is DENORMALIZED into the posting row (Lucene's
    *    norms-beside-postings discipline), so probe-time scoring never
    *    joins the corpus-sized doc-length frame;
    *  - `<prefix>_doclen` (doc_id, dl) bucketed on doc_id — for
    *    callers composing other per-doc statistics against the same
    *    corpus snapshot;
    *  - `<prefix>_df` (term, df) bucketed on term — VOCABULARY-sized
    *    (billions of terms on a web corpus), never broadcast whole:
    *    the probe reads only the query vocabulary's rows (an IN-set
    *    pushed into the scan — the [[bm25PartialsF]] pruning
    *    discipline, stored form);
    *  - `<prefix>_meta` one row (k1, b, n_docs, avgdl, total_len):
    *    scoring parameters AND corpus statistics pinned AT INDEX TIME
    *    and read back by the probe, so writer and prober cannot
    *    silently disagree (the [[Dedup.writeCosineIndex]] `_meta`
    *    contract — a probe scoring under a different k1/b or a stale
    *    N/avgdl is a silent ranking drift).
    * Build cost: the corpus is tokenized ONCE — the same single
    * postings shuffle [[bm25TopK]] pays once per run, plus one doc-key
    * join to denormalize dl — and written as the postings table; the
    * other three tables are derived from what was written: `_doclen`
    * as max(dl) per doc, `_df` as a count per term on the term-bucketed
    * postings scan (no exchange), `_meta` from `_doclen`. Linear, paid
    * once per corpus snapshot instead of per query batch. */
  def writePostingsIndex(corpus: DataFrame, prefix: String,
      k1: Double = 1.2, b: Double = 0.75, numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // postings and df are SORTED by term inside each bucket: on a
    // real (large-vocabulary) corpus a term-selective probe then
    // prunes parquet row groups via min/max on the sort key on top of
    // bucket pruning — the fixture's bounded ~31-word vocabulary makes
    // every bucket/row-group match (no measurable win at gate scales),
    // so this is the 100 TB serving layout, exercised for layout
    // correctness here and for selectivity on real data
    graft.sources.Ingest.writeBucketedTable(
      tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl"),
      s"${prefix}_postings", Seq("term"), numBuckets, sortCols = Seq("term"))
    val postings = spark.table(s"${prefix}_postings")
    graft.sources.Ingest.writeBucketedTable(
      postings.groupBy("doc_id").agg(max("dl").as("dl")),
      s"${prefix}_doclen", Seq("doc_id"), numBuckets,
      sortCols = Seq("doc_id"))
    graft.sources.Ingest.writeBucketedTable(
      postings.groupBy("term").agg(count(lit(1)).as("df")),
      s"${prefix}_df", Seq("term"), numBuckets,
      sortCols = Seq("term"))
    // corpus stats collected once (2 scalars)
    val stats = spark.table(s"${prefix}_doclen").agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("total_len")).head()
    val (nDocs, totalLen) = (stats.getLong(0), stats.getDouble(1))
    import spark.implicits._
    graft.sources.Ingest.writeManagedTable(
      Seq((k1, b, nDocs, totalLen / nDocs, totalLen))
        .toDF("k1", "b", "n_docs", "avgdl", "total_len"),
      s"${prefix}_meta")
  }

  /** Probe the standing postings index with a query batch: the
    * batch's (query, term) pairs broadcast onto the STORED postings —
    * no corpus tokenization, no corpus-side shuffle at probe time.
    * k1/b/N/avgdl come from `<prefix>_meta` (pinned at index time) and
    * the per-posting arithmetic is [[bm25Term]], the expression
    * [[bm25TopK]] scores with, so the two agree rank-for-rank on the
    * indexed corpus (RetrievalSpec pins equality). Self-match
    * suppression as in [[bm25TopK]].
    *
    * The batch goes through the [[ProbeBatch]] core both index probes
    * share: at most [[MaxBatch]] queries and as many distinct terms
    * (a larger batch fails fast, naming the fix: split it), collected
    * once; the df of its vocabulary looked up in one bounded collect;
    * the vocabulary pushed into BOTH stored scans as an IN-set. On the
    * term-bucketed, term-SORTED layout that filter prunes bucket
    * files, parquet row groups (min/max on the sort key), then rows —
    * a probe touches O(|query vocab| · avg postings/term) bytes, not
    * the corpus. The only exchanges in the plan are survivor-sized:
    * the partial-score groupBy and the per-query top-k window.
    *
    * Optional high-df (stopword) pruning, the classic lexical-serving
    * knob (Lucene stopword filtering / MaxScore's skip-the-flat-lists
    * intuition): a Zipf head term sits in ~every document, so its
    * postings dominate the scoring-join volume while its idf
    * ln(1+(N−df+0.5)/(df+0.5)) → ~0 contributes almost nothing to any
    * rank. maxDfFrac < 1 drops the query terms with df > maxDfFrac·N
    * before the postings scan. APPROXIMATE by construction — ranks can
    * shift where near-ties hinge on a stopword's residual idf — so the
    * default 1.0 keeps the exact contract (probe == direct,
    * spec-pinned); [[bm25TopK]] takes the same knob so the two paths
    * agree under the same setting. */
  def bm25TopKFromIndex(prefix: String, queries: DataFrame, k: Int,
      maxDfFrac: Double = 1.0): DataFrame = {
    val batch = new ProbeBatch(prefix, queries)
    val dfCap = (maxDfFrac * batch.nDocs).toLong
    topKPerQuery(batch.scored(
      batch.pairs.filter(t => batch.df.get(t._2).exists(_ <= dfCap))), k)
  }

  /** The ranking rule of [[bm25TopK]] and both index probes: per-term
    * BM25 contributions (`bm25_term` per query_id, doc_id, term) summed
    * per (query, doc), the top k per query by (bm25 desc, doc_id) —
    * (query_id, rank, doc_id, bm25). */
  private def topKPerQuery(contrib: DataFrame, k: Int): DataFrame =
    contrib.groupBy("query_id", "doc_id")
      .agg(sum("bm25_term").as("bm25"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "bm25")

  /** The BM25 contribution of one posting (columns `df`, `tf`, `dl`):
    * Lucene idf `ln(1 + (N−df+0.5)/(df+0.5))` times the k1/b-saturated
    * tf. Written once for [[bm25TopK]] (N and avgdl as columns of its
    * stats row) and the index probes (as the literals `_meta` pins), so
    * the paths cannot drift apart in a final digit. */
  private def bm25Term(nDocs: Column, avgdl: Column, k1: Double,
      b: Double): Column =
    log(lit(1.0) + (nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))

  /** The most queries, and the most distinct terms, one index-probe
    * batch may carry: the batch is collected to the driver and its
    * vocabulary is an IN-set literal shipped with every task. */
  private val MaxBatch = 100000

  /** Candidates per query phase 1 of the two-phase probe keeps, as a
    * multiple of k. */
  private val Overfetch = 4

  /** One query batch against the standing index `prefix` — the core
    * both index probes read. Construction reads `_meta` once, collects
    * the batch once (bounded: [[MaxBatch]] queries, failing fast with
    * the fix in the message), builds the distinct (query, term) pairs
    * and the vocabulary on the driver — `split(text, " ")` minus empty
    * terms, as [[bm25TopK]] explodes them — and looks up the stored df
    * of the vocabulary in one collect (one row per term at most). */
  private final class ProbeBatch(prefix: String, queries: DataFrame) {
    private val spark = queries.sparkSession
    import spark.implicits._
    import graft.Collect.{collectBounded, collectChecked}
    private val meta = spark.table(s"${prefix}_meta").head()
    val (k1, b, nDocs, avgdl) = (meta.getDouble(0), meta.getDouble(1),
      meta.getLong(2), meta.getDouble(3))
    val pairs: IndexedSeq[(Long, String)] =
      collectBounded(queries.select("query_id", "text"), MaxBatch,
          s"index probe: the query batch (split it into batches of at " +
            s"most $MaxBatch queries)")
        .toIndexedSeq.flatMap { r =>
          if (r.isNullAt(1)) Nil
          else r.getString(1).split(" ", -1).toSeq.filter(_.nonEmpty)
            .map(t => (r.getLong(0), t))
        }.distinct
    private val vocab = pairs.map(_._2).distinct
    require(vocab.length <= MaxBatch,
      s"index probe: the batch vocabulary has ${vocab.length} distinct " +
        s"terms, more than $MaxBatch (split the batch)")
    val df: Map[String, Long] =
      collectChecked(spark.table(s"${prefix}_df")
          .filter(col("term").isInCollection(vocab))
          .select(col("term"), col("df")), vocab.length,
          s"index probe: the stored df of the batch vocabulary " +
            s"(rebuild ${prefix} with writePostingsIndex)")
        .map(r => (r.getString(0), r.getLong(1))).toMap

    /** Per-(query, doc, term) BM25 contributions of the given pairs:
      * their vocabulary pushed into both stored scans, `extraFilter`
      * applied to the postings scan. */
    def scored(pairs: Seq[(Long, String)],
        extraFilter: DataFrame => DataFrame = identity): DataFrame = {
      val voc = pairs.map(_._2).distinct
      val postings = extraFilter(spark.table(s"${prefix}_postings")
        .filter(col("term").isInCollection(voc)))
      val dfreq = spark.table(s"${prefix}_df")
        .filter(col("term").isInCollection(voc))
      broadcast(pairs.toDF("query_id", "term"))
        .join(postings, "term")
        .filter(col("doc_id") =!= col("query_id"))
        .join(broadcast(dfreq), "term")
        .withColumn("bm25_term", bm25Term(lit(nDocs), lit(avgdl), k1, b))
    }
  }

  /** Exact two-phase probe — the relational MaxScore/WAND move (Turtle
    * & Flood, Inf. Proc. & Mgmt 1995; Broder et al. CIKM 2003), for
    * serving batches where the Zipf head dominates scoring-join volume
    * (zf100: the one-phase exact probe steps 16.2×/decade on head
    * postings mass alone — BASELINE r10):
    *
    *  - PHASE 1 scores only TAIL terms (stored df ≤ headDfFrac·N) —
    *    the same selective join as the maxDfFrac-pruned probe — and
    *    keeps the top k·[[Overfetch]] candidates per query;
    *  - PHASE 2 rescores ONLY those candidates with the HEAD terms:
    *    the head-postings scan is pruned by BOTH IN-sets (head terms
    *    AND the collected candidate doc ids — each bounded, the doc
    *    set by |queries|·k·Overfetch), so its output is
    *    candidate-sized, never corpus-sized; total = tail + head
    *    contribution, exact BM25 arithmetic per term;
    *  - CERTIFICATE: a doc outside the candidate set scores at most
    *    tailCut(q) + headBound(q) — tailCut is the lowest admitted
    *    phase-1 tail score (only when the overfetch window filled;
    *    otherwise every tail-matching doc IS a candidate and outside
    *    docs carry no tail term at all), headBound =
    *    Σ_{head terms of q} idf·(k1+1), the tf→∞ saturation limit of
    *    the BM25 term contribution. If the query's exact k-th
    *    rescored score strictly exceeds that bound, no outside doc
    *    can displace the top k — provably exact for that query.
    *    Queries that fail (all-head queries, sparse tail matches) are
    *    scored over all their terms — the [[bm25TopKFromIndex]]
    *    arithmetic — and merged in; full-join volume is paid only for
    *    them.
    *
    * The batch, its df lookup and the scoring expression are the
    * [[ProbeBatch]] core [[bm25TopKFromIndex]] reads too, under the
    * same bound. The candidate and head collects are bounded by their
    * plans (the p1rank filter, the semi-join to the candidates) and
    * only assert it ([[graft.Collect.collectChecked]]).
    *
    * Returns (query_id, rank, doc_id, bm25, certified). Ranks agree
    * with [[bm25TopKFromIndex]] (spec-pinned on distinct-score
    * fixtures; the split tail+head summation can differ from the
    * one-phase sum by final-digit ULPs, so exact-tie rank order
    * between equal-scored docs is the one caveat). */
  def bm25TopKFromIndexTwoPhase(prefix: String, queries: DataFrame,
      k: Int, headDfFrac: Double = 0.5): DataFrame = {
    // default headDfFrac = 0.5, NOT the seldf row's 0.2: a term with
    // df = 0.5N still carries idf = ln 3 ≈ 1.1, and summing k1+1-
    // saturated bounds over every df ∈ (0.2N, 0.5N) term of a long
    // query swamps the kth score — measured: at 0.2 most fixture
    // queries (50-term doc-as-query texts) failed certification and
    // paid the fallback. At 0.5 only true stopword-band terms
    // (idf ≤ 1.1) are deferred to phase 2 and the bound stays small.
    // Long multi-term queries remain the certificate's hard case —
    // short (2-10 term) serving queries are its natural regime.
    val batch = new ProbeBatch(prefix, queries)
    val spark = queries.sparkSession
    import spark.implicits._
    import graft.Collect.collectChecked
    import batch.{k1, nDocs, pairs, scored}
    val dfCap = (headDfFrac * nDocs).toLong
    val allQ = pairs.map(_._1).distinct
    val headDf = batch.df.filter(_._2 > dfCap)
    def idfOf(df: Long): Double =
      math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    // ---- phase 1: tail-only scores, top k·Overfetch per query —
    // executed ONCE and collected: the candidate frame is bounded
    // (|queries|·k·Overfetch rows) and feeds phase 2, the exact
    // re-rank AND the certificate, so leaving it lazy re-runs the
    // whole tail-scoring DAG per downstream action (the first cut
    // measured 5× the one-phase probe on exactly that — 4 recomputes)
    val maxCand = math.min(allQ.length.toLong * k * Overfetch,
      Int.MaxValue - 1L).toInt
    val candRows = collectChecked(
        scored(pairs.filterNot(t => headDf.contains(t._2)))
          .groupBy("query_id", "doc_id").agg(sum("bm25_term").as("tail_bm25"))
          .withColumn("p1rank", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("tail_bm25").desc, col("doc_id"))))
          .filter(col("p1rank") <= k * Overfetch),
        maxCand, "two-phase probe: the phase-1 candidates")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // driver-side per-query tail cut / window-exhaustion flags
    val byQ = candRows.groupBy(_._1)
    val tailCut = byQ.view.mapValues(_.map(_._3).min).toMap
    val windowFull = byQ.view.mapValues(_.map(_._4).max == k * Overfetch).toMap
    val candDocIds = candRows.map(_._2).distinct.toIndexedSeq
    val candIds = candRows.map(t => (t._1, t._2)).toIndexedSeq
      .toDF("query_id", "doc_id")
    // ---- phase 2: head contributions for candidate docs only; the
    // candidate DOC ids prune the head-postings scan row-level, so
    // the output is candidate-sized — collected (at most one row per
    // candidate) and merged driver-side
    val headPairs = pairs.filter(t => headDf.contains(t._2))
    val headContrib: Map[(Long, Long), Double] =
      if (headPairs.isEmpty || candDocIds.isEmpty) Map.empty
      else collectChecked(scored(headPairs,
            _.filter(col("doc_id").isInCollection(candDocIds)))
          .join(broadcast(candIds), Seq("query_id", "doc_id"), "left_semi")
          .groupBy("query_id", "doc_id").agg(sum("bm25_term").as("head_bm25")),
          candRows.length, "two-phase probe: the phase-2 head contributions")
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // ---- exact re-rank + per-query certificate, all driver-side on
    // the bounded candidate set
    val headBoundMap = headDf.map { case (t, d) => (t, idfOf(d) * (k1 + 1.0)) }
    val qHeadTerms: Map[Long, Seq[String]] =
      headPairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val topk: Map[Long, Seq[(Long, Double)]] = byQ.view.mapValues { rows =>
      rows.map(t => (t._2,
          t._3 + headContrib.getOrElse((t._1, t._2), 0.0)))
        .sortBy { case (doc, s) => (-s, doc) }.take(k).toSeq
    }.toMap
    val certified: Map[Long, Boolean] = allQ.map { q =>
      val tk = topk.getOrElse(q, Nil)
      val headBound = qHeadTerms.getOrElse(q, Nil)
        .map(headBoundMap.getOrElse(_, 0.0)).sum
      val outsideBound =
        if (windowFull.getOrElse(q, false)) tailCut(q) + headBound
        else headBound
      // STRICT >: an outside doc tying the kth score could still win
      // the doc_id tie-break; fewer than k results also fails closed
      q -> (tk.size == k && tk.last._2 > outsideBound)
    }.toMap
    val certifiedPart = allQ.filter(certified).flatMap { q =>
      topk(q).zipWithIndex.map { case ((doc, s), i) =>
        (q, i + 1, doc, s, true)
      }
    }.toDF("query_id", "rank", "doc_id", "bm25", "certified")
    val badQ = allQ.filterNot(certified).toSet
    if (badQ.isEmpty) certifiedPart
    else certifiedPart.unionByName(
      topKPerQuery(scored(pairs.filter(t => badQ(t._1))), k)
        .withColumn("certified", lit(false)))
  }

  // ------------------------------------------- micro-int gated twins

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Corpus tokens (one row per token occurrence). */
  private def toksOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Micro-int BM25 partials for query docs selected by `qPred`:
    * term_score_micro = round(idf_micro · tf_sat) where idf_micro is
    * ln·1e6 rounded once, and the k1=1.2/b=0.75 saturation is the
    * exact integer rational 44·tf·L / (20·tf·L + 6·L + 18·dl·N)
    * (numerator and denominator are the closed form of
    * tf·(k1+1) / (tf + k1·(1−b+b·dl·N/L)) scaled by 20·L — all
    * integer, so the only float steps are one ln and two
    * correctly-rounded IEEE divisions/multiplies, deterministic
    * across engines). */
  private def bm25MicroScores(d: DataFrame, qPred: Column): DataFrame = {
    val toks = toksOf(d)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dl from tf, not a second full-token shuffle (sum of tf = token
    // count exactly — both integer counts, oracle-identical)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = tf.filter(qPred)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    // Same query-vocabulary pruning as the float path: never broadcast
    // the full vocabulary-sized df frame.
    val qdfreq = dfreq.join(
      broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
    val num = lit(44L) * col("tf") * col("total_len")
    val den = lit(20L) * col("tf") * col("total_len") +
      lit(6L) * col("total_len") + lit(18L) * col("dl") * col("n_docs")
    val idfMicro = round(log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      lit(1e6)).cast("long")
    broadcast(qterms)
      .join(tf, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(qdfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score_micro",
        round(idfMicro.cast("double") *
          (num.cast("double") / den.cast("double"))).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("term_score_micro").as("score_micro"))
  }

  private def rankBy(scored: DataFrame, scoreCol: String): DataFrame =
    scored.withColumn("rank", row_number().over(
      Window.partitionBy("query_id")
        .orderBy(col(scoreCol).desc, col("doc_id"))).cast("int"))

  /** Micro-int distinct-token Jaccard ranking for query docs under
    * `qPred`: jac_micro = round(1e6·|q∩d| / (|q|+|d|−|q∩d|)). */
  private def jaccardMicroScores(d: DataFrame, qPred: Column): DataFrame = {
    val toks = toksOf(d).distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val qt = toks.filter(qPred)
      .select(col("doc_id").as("query_id"), col("term"))
    val inter = broadcast(qt)
      .join(toks, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("query_id"), col("n").as("nq")),
        "query_id")
      .join(sizes.select(col("doc_id"), col("n").as("nd")), "doc_id")
      .withColumn("jac_micro",
        round((lit(1e6) * col("n_inter").cast("double")) /
          (col("nq") + col("nd") - col("n_inter")).cast("double"))
          .cast("long"))
      .select("query_id", "doc_id", "jac_micro")
  }

  type Q = (SparkSession, String) => DataFrame

  /** Fixture query predicate — every 100th doc, CLAMPED to a constant
    * load (50 queries at sf0.1 and beyond): a query set that grows
    * with the corpus makes the gated keys measure query·doc growth
    * (100× per decade — the r7 curve read 9–34× on this family before
    * the clamp), not corpus scaling. The clamp binds only above
    * sf0.1 (its 5,000 docs all have doc_id < 5000), so every recorded
    * sf0.01/sf0.1 gate hash is unchanged; at sf1+ the load is fixed —
    * the `bench_bm25_full` query-set sizing convention. */
  private val qPred = col("doc_id") % 100 === 0 && col("doc_id") < 5000

  /** BM25 top-5 per query (queries = docs with doc_id % 100 = 0,
    * clamped — [[qPred]]). */
  private val retrievalBm25: Q = (s, dir) => {
    rankBy(bm25MicroScores(docs(s, dir), qPred),
        "score_micro")
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "score_micro")
      .orderBy("query_id", "rank")
  }

  /** Distinct-token Jaccard top-5 per query (same query set). */
  private val retrievalJaccard: Q = (s, dir) => {
    rankBy(jaccardMicroScores(docs(s, dir), qPred),
        "jac_micro")
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "jac_micro")
      .orderBy("query_id", "rank")
  }

  /** RRF(k=60) over the BM25 top-20 and Jaccard top-20 lists, fused
    * in micro-units (round(1e9/(60+rank)) per list, integer sum —
    * order-free), top-10 per query. */
  private val retrievalRrf: Q = (s, dir) => {
    val d = docs(s, dir)
    val lex = rankBy(bm25MicroScores(d, qPred), "score_micro")
      .filter(col("rank") <= 20)
    val jac = rankBy(jaccardMicroScores(d, qPred), "jac_micro")
      .filter(col("rank") <= 20)
    val contrib = Seq(lex, jac)
      .map(_.select(col("query_id"), col("doc_id"),
        round(lit(1e9) / (lit(60.0) + col("rank"))).cast("long").as("c")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy("query_id", "doc_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).as("n_lists"))
    rankBy(fused, "rrf_micro")
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "doc_id", "rrf_micro", "n_lists")
      .orderBy("query_id", "rank")
  }

  /** nDCG@10 of the Jaccard list against binary relevance = the BM25
    * top-5 (Järvelin & Kekäläinen TOIS 2002) — the rank-quality
    * metric a retrieval stack reports when one ranker is graded
    * against another's judgments. Discounts 1/log2(r+1) are rounded
    * to micro-units per rank (a 10-row literal frame), DCG/IDCG are
    * integer sums of those micro-discounts (order-free), and the
    * final nDCG is one correctly-rounded division to basis points.
    * Queries with zero relevant docs in the candidate list report 0,
    * not a dropped row. */
  private val retrievalNdcg: Q = (s, dir) => {
    val d = docs(s, dir)
    val bm = rankBy(bm25MicroScores(d, qPred), "score_micro")
    val rel = bm.filter(col("rank") <= 5).select("query_id", "doc_id")
    val cand = rankBy(jaccardMicroScores(d, qPred), "jac_micro")
      .filter(col("rank") <= 10).select("query_id", "doc_id", "rank")
    val disc = s.range(1, 11).toDF("rank")
      .withColumn("disc_micro",
        round((lit(1e6) * log(lit(2.0))) /
          log(col("rank").cast("double") + 1)).cast("long"))
    val dcg = cand.join(rel, Seq("query_id", "doc_id"))
      .join(broadcast(disc.withColumn("rank", col("rank").cast("int"))),
        "rank")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_rel_found"), sum("disc_micro").as("dcg_micro"))
    val idcg = disc.filter(col("rank") <= 5)
      .agg(sum("disc_micro").as("idcg_micro"))
    bm.select("query_id").distinct()
      .join(dcg, Seq("query_id"), "left")
      .crossJoin(broadcast(idcg))
      .select(col("query_id"),
        coalesce(col("n_rel_found"), lit(0L)).as("n_rel_found"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        round(lit(10000.0) * coalesce(col("dcg_micro"), lit(0L)) /
          col("idcg_micro")).cast("long").as("ndcg_bp"))
      .orderBy("query_id")
  }

  /** Diversified top-k (the "at most m per site" result-page rule,
    * the cluster-capped cousin of MMR): rank candidates within
    * (query, group) first, cap at m per group, then take the global
    * per-query top-5 of the survivors. Two windows, both
    * query-partitioned (bounded frames); the group attribute joins on
    * the doc key — co-partitionable with the score frame at any
    * scale. The fixture groups by `lang` and caps at 2: English is
    * 44% of the corpus, so the cap actually BINDS (a source-grouped
    * fixture with 20 uniform sources never would) — a weaker
    * other-lang doc outranks the third English one, and the spec pins
    * that displacement. */
  private val retrievalDiversified: Q = (s, dir) => {
    val d = docs(s, dir)
    val scored = bm25MicroScores(d, qPred)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    val capped = scored.withColumn("grp_rank", row_number().over(
        Window.partitionBy("query_id", "lang")
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("int"))
      .filter(col("grp_rank") <= 2)
    rankBy(capped, "score_micro")
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "lang", "score_micro")
      .orderBy("query_id", "rank")
  }

  /** End-to-end retrieval recipe, composed from the pieces above the
    * way a serving stack chains them (the retrieval twin of
    * [[Curation.pipelineE2e]]): BM25 top-20 ∪ Jaccard top-20 → RRF
    * fuse → at most 2 per language → final top-5. Every stage reuses
    * the SAME scoring pipelines the individual keys gate, and the
    * oracle composes the same shared CTE texts — the composition
    * cannot drift from its parts. */
  private val retrievalPipeline: Q = (s, dir) => {
    val d = docs(s, dir)
    val lex = rankBy(bm25MicroScores(d, qPred), "score_micro")
      .filter(col("rank") <= 20)
    val jac = rankBy(jaccardMicroScores(d, qPred), "jac_micro")
      .filter(col("rank") <= 20)
    val contrib = Seq(lex, jac)
      .map(_.select(col("query_id"), col("doc_id"),
        round(lit(1e9) / (lit(60.0) + col("rank"))).cast("long").as("c")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy("query_id", "doc_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    val capped = fused.withColumn("grp_rank", row_number().over(
        Window.partitionBy("query_id", "lang")
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("int"))
      .filter(col("grp_rank") <= 2)
    rankBy(capped, "rrf_micro")
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "lang", "rrf_micro", "n_lists")
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, Q] = Map(
    "retrieval_bm25_topk"   -> retrievalBm25,
    "retrieval_jaccard_topk" -> retrievalJaccard,
    "retrieval_rrf_fusion"  -> retrievalRrf,
    "retrieval_ndcg"        -> retrievalNdcg,
    "retrieval_diversified" -> retrievalDiversified,
    "retrieval_pipeline_e2e" -> retrievalPipeline,
  )

  // ------------------------------------------------------- oracle SQL

  /** Shared CTE text so the three keys' scoring can never drift. */
  private def bm25PartsSql(qPred: String): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |       WHERE term <> '' GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks
       |       WHERE term <> '' GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tf
       |           WHERE $qPred),
       |qdfreq AS (SELECT term, df FROM dfreq
       |           WHERE term IN (SELECT term FROM qterms)),
       |partials AS (
       |  SELECT q.query_id, t.doc_id,
       |    CAST(ROUND(
       |      CAST(ROUND(LN(1 + (s.n_docs - f.df + 0.5)/(f.df + 0.5)) * 1e6)
       |        AS BIGINT)
       |      * (CAST(44 * t.tf * s.total_len AS DOUBLE)
       |         / (20 * t.tf * s.total_len + 6 * s.total_len
       |            + 18 * d.dl * s.n_docs))
       |    ) AS BIGINT) AS term_score_micro
       |  FROM qterms q
       |  JOIN tf t ON q.term = t.term AND t.doc_id <> q.query_id
       |  JOIN dl d ON t.doc_id = d.doc_id
       |  JOIN qdfreq f ON q.term = f.term
       |  CROSS JOIN stats s),
       |bm_scored AS (SELECT query_id, doc_id,
       |    CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
       |  FROM partials GROUP BY query_id, doc_id),
       |bm_ranked AS (SELECT query_id, doc_id, score_micro,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id) AS INT) AS rank
       |  FROM bm_scored)""".stripMargin

  private def jaccardPartsSql(qPred: String): String =
    s"""dtoks AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents) WHERE term <> ''),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM dtoks GROUP BY doc_id),
       |qt AS (SELECT doc_id AS query_id, term FROM dtoks WHERE $qPred),
       |inter AS (
       |  SELECT q.query_id, t.doc_id, COUNT(*) AS n_inter
       |  FROM qt q JOIN dtoks t ON q.term = t.term
       |    AND t.doc_id <> q.query_id
       |  GROUP BY q.query_id, t.doc_id),
       |jacs AS (
       |  SELECT i.query_id, i.doc_id,
       |    CAST(ROUND(1e6 * i.n_inter / (sq.n + sd.n - i.n_inter))
       |      AS BIGINT) AS jac_micro
       |  FROM inter i
       |  JOIN sizes sq ON i.query_id = sq.doc_id
       |  JOIN sizes sd ON i.doc_id = sd.doc_id),
       |jac_ranked AS (SELECT query_id, doc_id, jac_micro,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY jac_micro DESC, doc_id) AS INT) AS rank
       |  FROM jacs)""".stripMargin

  private val qPredSql = "doc_id % 100 = 0 AND doc_id < 5000"

  val oracles: Map[String, String] = Map(
    "retrieval_bm25_topk" ->
      s"""WITH ${bm25PartsSql(qPredSql)}
         |SELECT query_id, rank, doc_id, score_micro FROM bm_ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "retrieval_jaccard_topk" ->
      s"""WITH ${jaccardPartsSql(qPredSql)}
         |SELECT query_id, rank, doc_id, jac_micro FROM jac_ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "retrieval_pipeline_e2e" ->
      s"""WITH ${bm25PartsSql(qPredSql)},
         |${jaccardPartsSql(qPredSql)},
         |contrib AS (
         |  SELECT query_id, doc_id,
         |    CAST(ROUND(1e9/(60 + rank)) AS BIGINT) AS c
         |  FROM bm_ranked WHERE rank <= 20
         |  UNION ALL
         |  SELECT query_id, doc_id,
         |    CAST(ROUND(1e9/(60 + rank)) AS BIGINT) AS c
         |  FROM jac_ranked WHERE rank <= 20),
         |fused AS (SELECT c.query_id, c.doc_id,
         |    CAST(SUM(c.c) AS BIGINT) AS rrf_micro,
         |    COUNT(*) AS n_lists
         |  FROM contrib c GROUP BY c.query_id, c.doc_id),
         |langd AS (
         |  SELECT f.*, d.lang,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY f.query_id, d.lang
         |      ORDER BY f.rrf_micro DESC, f.doc_id) AS INT) AS grp_rank
         |  FROM fused f JOIN documents d ON f.doc_id = d.doc_id),
         |finald AS (
         |  SELECT query_id, doc_id, lang, rrf_micro, n_lists,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank
         |  FROM langd WHERE grp_rank <= 2)
         |SELECT query_id, rank, doc_id, lang, rrf_micro, n_lists
         |FROM finald WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "retrieval_diversified" ->
      s"""WITH ${bm25PartsSql(qPredSql)},
         |grpd AS (
         |  SELECT b.query_id, b.doc_id, d.lang, b.score_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY b.query_id, d.lang
         |      ORDER BY b.score_micro DESC, b.doc_id) AS INT) AS grp_rank
         |  FROM bm_scored b JOIN documents d ON b.doc_id = d.doc_id),
         |capped AS (SELECT * FROM grpd WHERE grp_rank <= 2),
         |final AS (
         |  SELECT query_id, doc_id, lang, score_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |  FROM capped)
         |SELECT query_id, rank, doc_id, lang, score_micro FROM final
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "retrieval_ndcg" ->
      s"""WITH ${bm25PartsSql(qPredSql)},
         |${jaccardPartsSql(qPredSql)},
         |rel AS (SELECT query_id, doc_id FROM bm_ranked WHERE rank <= 5),
         |cand AS (SELECT query_id, doc_id, rank FROM jac_ranked
         |         WHERE rank <= 10),
         |disc AS (SELECT i AS rank,
         |    CAST(ROUND(1e6 * LN(2) / LN(i + 1)) AS BIGINT) AS disc_micro
         |  FROM generate_series(1, 10) t(i)),
         |dcg AS (
         |  SELECT c.query_id, COUNT(*) AS n_rel_found,
         |    CAST(SUM(d.disc_micro) AS BIGINT) AS dcg_micro
         |  FROM cand c
         |  JOIN rel r ON c.query_id = r.query_id AND c.doc_id = r.doc_id
         |  JOIN disc d ON c.rank = d.rank
         |  GROUP BY c.query_id),
         |idcg AS (SELECT CAST(SUM(disc_micro) AS BIGINT) AS idcg_micro
         |         FROM disc WHERE rank <= 5)
         |SELECT q.query_id,
         |  CAST(COALESCE(g.n_rel_found, 0) AS BIGINT) AS n_rel_found,
         |  CAST(COALESCE(g.dcg_micro, 0) AS BIGINT) AS dcg_micro,
         |  i.idcg_micro,
         |  CAST(ROUND(10000.0 * COALESCE(g.dcg_micro, 0) / i.idcg_micro)
         |    AS BIGINT) AS ndcg_bp
         |FROM (SELECT DISTINCT query_id FROM bm_ranked) q
         |LEFT JOIN dcg g USING(query_id) CROSS JOIN idcg i
         |ORDER BY q.query_id""".stripMargin,

    "retrieval_rrf_fusion" ->
      s"""WITH ${bm25PartsSql(qPredSql)},
         |${jaccardPartsSql(qPredSql)},
         |contrib AS (
         |  SELECT query_id, doc_id,
         |    CAST(ROUND(1e9/(60 + rank)) AS BIGINT) AS c
         |  FROM bm_ranked WHERE rank <= 20
         |  UNION ALL
         |  SELECT query_id, doc_id,
         |    CAST(ROUND(1e9/(60 + rank)) AS BIGINT) AS c
         |  FROM jac_ranked WHERE rank <= 20),
         |fused AS (SELECT query_id, doc_id,
         |    CAST(SUM(c) AS BIGINT) AS rrf_micro,
         |    COUNT(*) AS n_lists
         |  FROM contrib GROUP BY query_id, doc_id),
         |rrf_ranked AS (SELECT query_id, doc_id, rrf_micro, n_lists,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank
         |  FROM fused)
         |SELECT query_id, rank, doc_id, rrf_micro, n_lists FROM rrf_ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
  )
}
