package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior pins for the retrieval layer; the value-level gate is the
  * DuckDB oracle on the three `retrieval_*` keys. */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (0L, "spark join shuffle plan"),
    (1L, "spark join broadcast small table"),
    (2L, "window rank partition order"),
    (3L, "spark spark spark join join shuffle"),
    (4L, "totally unrelated words about cooking pasta"),
  ).toDF("doc_id", "text")

  test("bm25TopK: term-matched docs outrank unrelated ones, self excluded") {
    val queries = Seq((0L, "spark join shuffle plan")).toDF("query_id", "text")
    val r = Retrieval.bm25TopK(corpus, queries, 10).collect()
    val ids = r.sortBy(_.getInt(r.head.fieldIndex("rank")))
      .map(_.getLong(r.head.fieldIndex("doc_id")))
    assert(!ids.contains(0L), "the query doc itself must be excluded")
    assert(!ids.contains(4L) || ids.lastOption.contains(4L) == false,
      "a doc sharing no query term must not appear")
    assert(ids.head == 3L || ids.head == 1L,
      "a multi-term-matching doc must rank first")
    // doc 3 matches spark+join+shuffle (3 of 4 terms, high tf);
    // doc 1 matches spark+join; doc 2 matches nothing
    assert(!ids.contains(2L))
  }

  test("bm25TopK: idf favors rarer terms") {
    // 'shuffle' appears in 2 docs, 'spark' in 3 — a doc matching only
    // 'shuffle' must outrank a doc matching only 'spark' at equal tf/dl
    val c = Seq(
      (10L, "shuffle alpha beta gamma"),
      (11L, "spark alpha beta gamma"),
      (12L, "spark delta epsilon zeta"),
      (13L, "shuffle spark other words"),
    ).toDF("doc_id", "text")
    val q = Seq((99L, "shuffle spark")).toDF("query_id", "text")
    val r = Retrieval.bm25TopK(c, q, 4).collect()
      .map(x => x.getLong(x.fieldIndex("doc_id")) ->
        x.getInt(x.fieldIndex("rank"))).toMap
    assert(r(13L) == 1, "doc matching both terms ranks first")
    assert(r(10L) < r(11L),
      "rarer-term match must outrank commoner-term match")
  }

  test("fixture keys: contiguous ranks per query, fused key exercises 2-list merge") {
    val bm = Retrieval.queries("retrieval_bm25_topk")(spark, sfCorrect)
    val perQ = bm.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .collect()
    assert(perQ.nonEmpty)
    perQ.foreach { r =>
      assert(r.getLong(r.fieldIndex("n")) == 5 &&
        r.getInt(r.fieldIndex("mn")) == 1 && r.getInt(r.fieldIndex("mx")) == 5,
        s"each query must get exactly ranks 1..5: $r")
    }
    val fused = Retrieval.queries("retrieval_rrf_fusion")(spark, sfCorrect)
    assert(fused.filter(col("n_lists") === 2).count() > 0,
      "the fixture must actually merge overlapping lists")
  }

  test("retrieval_ndcg: one row per query, ndcg_bp in [0, 10000], zero-hit queries kept") {
    val r = Retrieval.queries("retrieval_ndcg")(spark, sfCorrect).collect()
    val nQueries = Retrieval.queries("retrieval_bm25_topk")(spark, sfCorrect)
      .select("query_id").distinct().count()
    assert(r.length == nQueries, "every query must report a row")
    r.foreach { row =>
      val bp = row.getLong(row.fieldIndex("ndcg_bp"))
      val found = row.getLong(row.fieldIndex("n_rel_found"))
      assert(bp >= 0 && bp <= 10000, s"ndcg_bp out of range: $row")
      assert((found == 0) == (bp == 0),
        s"ndcg_bp must be 0 exactly when nothing relevant was found: $row")
    }
  }

  test("retrieval_diversified: at most 2 per lang, and the cap displaces") {
    val r = Retrieval.queries("retrieval_diversified")(spark, sfCorrect)
    val perLang = r.groupBy("query_id", "lang").count().collect()
    assert(perLang.nonEmpty && perLang.forall(_.getLong(2) <= 2),
      "lang cap must hold")
    // the cap must actually change the result vs the plain top-5
    // (en is 44% of the corpus — some query has 3+ en in its top-5)
    val plain = Retrieval.queries("retrieval_bm25_topk")(spark, sfCorrect)
      .select("query_id", "doc_id")
    assert(r.select("query_id", "doc_id").exceptAll(plain).count() > 0,
      "diversification must displace at least one plain-top-5 doc")
  }

  test("retrieval_pipeline_e2e: fused, capped, and consistent with parts") {
    val r = Retrieval.queries("retrieval_pipeline_e2e")(spark, sfCorrect)
    val rows = r.collect()
    assert(rows.nonEmpty)
    val perLang = r.groupBy("query_id", "lang").count().collect()
    assert(perLang.forall(_.getLong(2) <= 2), "lang cap must hold post-fusion")
    assert(rows.exists(_.getLong(rows.head.fieldIndex("n_lists")) == 2),
      "the composed recipe must fuse overlapping lists")
    // ranks are contiguous 1..5 per query
    r.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("mn"), max("rank").as("mx"))
      .collect().foreach { row =>
        assert(row.getLong(row.fieldIndex("n")) == 5 &&
          row.getInt(row.fieldIndex("mn")) == 1 &&
          row.getInt(row.fieldIndex("mx")) == 5, row.toString)
      }
  }

  test("bm25 broadcasts only the query-vocabulary-pruned df frame") {
    // The document-frequency frame is vocabulary-sized (billions of
    // terms on a web corpus) — broadcasting it whole is the one plan
    // that melts at 100×. Assert that every broadcast subtree carrying
    // the df aggregate (grouping on exactly `term` WITH an aggregate
    // function — the distinct() frames group on term with none) also
    // carries the LeftSemi prune against the query vocabulary.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    // AQE wraps the plan in AdaptiveSparkPlanExec, a leaf node that
    // tree traversals won't descend into — flatten through it (and any
    // nested reused subtrees) to the concrete physical operators.
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.initialPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    def check(plan: SparkPlan, what: String): Unit = {
      val nodes = flatten(plan)
      val dfreqBroadcasts = nodes.collect {
        case b: BroadcastExchangeExec if flatten(b).exists {
          case h: HashAggregateExec =>
            h.groupingExpressions.map(_.name) == Seq("term") &&
              h.aggregateExpressions.nonEmpty
          case _ => false
        } => b
      }
      assert(dfreqBroadcasts.nonEmpty,
        s"$what: expected the pruned df frame to be broadcast")
      dfreqBroadcasts.foreach { b =>
        assert(flatten(b).exists {
            case j: BroadcastHashJoinExec => j.joinType == LeftSemi
            case _ => false
          },
          s"$what: broadcast df frame is NOT semi-join pruned to query vocabulary:\n$b")
      }
    }
    check(Retrieval.queries("retrieval_bm25_topk")(spark, sfCorrect)
      .queryExecution.executedPlan, "micro twin")
    val d = graft.Tables.load(spark, sfCorrect, "documents")
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    check(Retrieval.bm25TopK(d, q, 5).queryExecution.executedPlan, "float path")
  }

  test("standing postings index: probe equals direct bm25TopK; meta pins k1/b") {
    val d = graft.Tables.load(spark, sfCorrect, "documents")
      .select(col("doc_id"), col("text"))
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    // non-default k1/b at index time: the probe must score under the
    // STORED parameters, not its own defaults (the _meta contract)
    Retrieval.writePostingsIndex(d, "bm25_idx_t", k1 = 2.0, b = 0.5,
      numBuckets = 8)
    val meta = spark.table("bm25_idx_t_meta").head()
    assert(meta.getDouble(0) === 2.0 && meta.getDouble(1) === 0.5)
    assert(meta.getLong(2) === d.count(), "n_docs pinned at index time")
    val viaIndex = Retrieval.bm25TopKFromIndex("bm25_idx_t", q, 5)
      .select("query_id", "rank", "doc_id")
    val direct = Retrieval.bm25TopK(d, q, 5, k1 = 2.0, b = 0.5)
      .select("query_id", "rank", "doc_id")
    assert(viaIndex.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaIndex).count() == 0,
      "index probe must reproduce the direct BM25 ranking exactly")
    // and the pinned parameters actually BIND: probe scores differ
    // from a default-parameter probe of the same corpus (rank flips
    // are fixture luck, but k1/b enter every term score)
    val viaScores = Retrieval.bm25TopKFromIndex("bm25_idx_t", q, 5)
      .select("query_id", "rank", "doc_id", "bm25")
    val defScores = Retrieval.bm25TopK(d, q, 5)
      .select("query_id", "rank", "doc_id", "bm25")
    assert(viaScores.exceptAll(defScores).count() > 0,
      "stored k1/b must actually change scores vs defaults")
  }

  test("standing postings index probe pushes the query vocabulary into the stored scans") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha bravo charlie common pad words"),
      (2L, "delta echo foxtrot common pad words"),
      (3L, "alpha delta golf common pad words"),
    ).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_pd", numBuckets = 8)
    val q = Seq((9L, "alpha golf")).toDF("query_id", "text")
    val plan = Retrieval.bm25TopKFromIndex("bm25_idx_pd", q, 5)
      .queryExecution.executedPlan.toString
    // the bounded query vocabulary must reach the parquet scans as a
    // pushed IN filter — on the term-sorted bucketed layout that is
    // bucket + row-group + row pruning, the probe's selectivity path
    assert("PushedFilters: \\[.*In\\(term".r.findAllIn(plan).size >= 2,
      s"query vocabulary not pushed into the stored postings/df scans:\n$plan")
  }

  test("both index probes fail fast on a batch over 100,000 queries, naming the fix") {
    val d = Seq((1L, "alpha bravo"), (2L, "alpha charlie")).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_big", numBuckets = 8)
    val q = spark.range(100001L)
      .select(col("id").as("query_id"), concat(lit("alpha q"), col("id")).as("text"))
    Seq[() => Any](
      () => Retrieval.bm25TopKFromIndex("bm25_idx_big", q, 5),
      () => Retrieval.bm25TopKFromIndexTwoPhase("bm25_idx_big", q, 5)).foreach { probe =>
      val e = intercept[IllegalArgumentException](probe())
      assert(e.getMessage.contains(
        "the query batch (split it into batches of at most 100000 queries)"), e.getMessage)
    }
  }

  test("one-phase index probe: Spark jobs per call at maxDfFrac 1.0 and 0.5") {
    import org.apache.spark.graft.ListenerBusAccess
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def jobsOf(body: => Unit): Int = {
      val sc = spark.sparkContext
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      ListenerBusAccess.drain(sc)
      sc.addSparkListener(l)
      try { body; ListenerBusAccess.drain(sc) } finally sc.removeSparkListener(l)
      n.get
    }
    val d = Seq(
      (1L, "alpha bravo common filler"),
      (2L, "alpha charlie common filler"),
      (3L, "delta echo common filler"),
      (4L, "delta foxtrot common filler"),
    ).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_jobs", numBuckets = 8)
    val q = Seq((9L, "alpha common"), (8L, "delta common")).toDF("query_id", "text")
    // the meta read, the df lookup and the scoring plan; the probe with
    // the batch vocabulary collected by an aggregate read 9 and 11
    val exact = jobsOf(Retrieval.bm25TopKFromIndex("bm25_idx_jobs", q, 4).collect())
    val pruned = jobsOf(Retrieval.bm25TopKFromIndex("bm25_idx_jobs", q, 4,
      maxDfFrac = 0.5).collect())
    assert((exact, pruned) === ((7, 7)))
  }

  test("maxDfFrac stopword pruning: index and direct paths agree, knob binds") {
    import spark.implicits._
    // "common" sits in every doc (df/N = 1) — pruned at maxDfFrac 0.5;
    // rare terms differentiate the docs
    val d = Seq(
      (1L, "alpha bravo common filler"),
      (2L, "alpha charlie common filler"),
      (3L, "delta echo common filler"),
      (4L, "delta foxtrot common filler"),
    ).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_df")
    val q = Seq((9L, "alpha common"), (8L, "delta common"))
      .toDF("query_id", "text")
    val viaIndex = Retrieval.bm25TopKFromIndex("bm25_idx_df", q, 4,
        maxDfFrac = 0.5)
      .select("query_id", "rank", "doc_id", "bm25")
    val direct = Retrieval.bm25TopK(d, q, 4, maxDfFrac = 0.5)
      .select("query_id", "rank", "doc_id", "bm25")
    assert(viaIndex.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaIndex).count() == 0,
      "pruned index probe must match the pruned direct path exactly")
    // the knob binds: with "common" (and "filler") pruned, docs that
    // match only through them drop out of the candidate list entirely
    val exact = Retrieval.bm25TopK(d, q, 4)
    assert(exact.count() > direct.count(),
      "pruning universal terms must shrink the candidate list")
    // and pruned scores carry no contribution from the pruned terms:
    // every surviving candidate matched a sub-threshold term
    val prunedDocs = direct.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(prunedDocs.subsetOf(Set(1L, 2L, 3L, 4L)) && prunedDocs.size == 4,
      s"alpha/delta candidates expected, got $prunedDocs")
  }

  test("two-phase MaxScore probe: certified queries exact, all-head queries fall back") {
    import spark.implicits._
    // corpus with real head/tail separation: "common" in every doc
    // (head at headDfFrac 0.3: cap = 6 of 20), "grp<j>" in 5 docs each
    // and "u<i>" unique (both tail)
    val d = (0 until 20).map(i =>
      (i.toLong, s"common grp${i % 4} u$i")).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_2p", numBuckets = 8)
    val q = Seq((100L, "common u3 grp1"), (101L, "common"))
      .toDF("query_id", "text")
    val twoPhase = Retrieval.bm25TopKFromIndexTwoPhase("bm25_idx_2p", q,
      k = 3, headDfFrac = 0.3)
    val onePhase = Retrieval.bm25TopKFromIndex("bm25_idx_2p", q, 3)
    // rank-for-rank agreement with the one-phase exact probe on BOTH
    // queries (certified path and fallback path)
    val tp = twoPhase.select("query_id", "rank", "doc_id")
    val op = onePhase.select("query_id", "rank", "doc_id")
    assert(tp.exceptAll(op).count() == 0 && op.exceptAll(tp).count() == 0,
      "two-phase ranks must equal the one-phase exact probe")
    // the tail-discriminating query is CERTIFIED (phase 2 proved no
    // outside doc can displace the top k); the all-head query cannot
    // be certified and went through the fallback
    val certOf = twoPhase.select("query_id", "certified").distinct()
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(certOf(100L), "tail-discriminating query should be certified")
    assert(!certOf(101L), "all-head query must fail closed to the fallback")
    // phase-2 scan pruning: certified results carry full BM25 (head
    // contribution included) — the top doc for query 100 must be doc 3
    // (matches BOTH tail terms u3 and grp1)
    val top100 = twoPhase.filter(col("query_id") === 100L &&
      col("rank") === 1).select("doc_id").head().getLong(0)
    assert(top100 === 3L, s"expected doc 3 on top, got $top100")
  }

  test("postings index: the derived doclen, df and meta equal a from-corpus derivation") {
    val d = graft.Tables.load(spark, sfCorrect, "documents")
      .select(col("doc_id"), col("text"))
    Retrieval.writePostingsIndex(d, "bm25_idx_dv", numBuckets = 8)
    // the derivation every table once had, each from the corpus
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val nDocs = dl.count()
    val totalLen = dl.agg(sum("dl")).head().getLong(0).toDouble
    val expected = Seq(
      "postings" -> tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl"),
      "doclen" -> dl,
      "df" -> tf.groupBy("term").agg(count(lit(1)).as("df")),
      "meta" -> Seq((1.2, 0.75, nDocs, totalLen / nDocs, totalLen))
        .toDF("k1", "b", "n_docs", "avgdl", "total_len"))
    // row count and an order-insensitive hash of the rows
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum("h")).head().toSeq
    expected.foreach { case (table, want) =>
      val got = spark.table(s"bm25_idx_dv_$table")
      assert(got.columns.toSeq === want.columns.toSeq, table)
      assert(fingerprint(got) === fingerprint(want), table)
    }
  }

  test("two-phase probe equals the one-phase probe on a Zipf corpus, fallback included") {
    val d = graft.sources.FixtureGen.documentsZipf(spark, sfSmoke, 600, seed = 5)
      .select("doc_id", "text").cache()
    try {
      Retrieval.writePostingsIndex(d, "bm25_idx_2pz", numBuckets = 8)
      val rng = new scala.util.Random(11)
      val texts = d.orderBy("doc_id").limit(40).collect().map(_.getString(1).split(" "))
      val head = spark.table("bm25_idx_2pz_df").orderBy(col("df").desc, col("term"))
        .limit(2).collect().map(_.getString(0))
      // six-term queries drawn from documents, plus an all-head query,
      // which no certificate can cover
      val q = (texts.zipWithIndex.map { case (ws, i) =>
        (10000L + i, Seq.fill(6)(ws(rng.nextInt(ws.length))).mkString(" "))
      } :+ (20000L -> head.mkString(" "))).toSeq.toDF("query_id", "text")
      val two = Retrieval.bm25TopKFromIndexTwoPhase("bm25_idx_2pz", q, 5).collect()
      val one = Retrieval.bm25TopKFromIndex("bm25_idx_2pz", q, 5).collect()
      val cert = two.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.head.getBoolean(4) }
      assert(cert.values.exists(identity) && cert.values.exists(!_),
        s"need certified and fallback queries: $cert")
      assert(!cert(20000L), "the all-head query must fall back")
      // per query: the same scores (to 1e-9 relative) and the same docs,
      // except among docs tied with the k-th score, where either may cut
      def byQuery(rs: Array[org.apache.spark.sql.Row]) = rs.groupBy(_.getLong(0))
        .map { case (k, xs) => k -> xs.map(r => (r.getLong(2), r.getDouble(3))).sortBy(-_._2).toSeq }
      def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      val (a, b) = (byQuery(two), byQuery(one))
      assert(a.keySet === b.keySet)
      a.foreach { case (k, xs) =>
        val ys = b(k)
        assert(xs.size === ys.size && xs.zip(ys).forall { case (x, y) => close(x._2, y._2) },
          s"query $k: $xs vs $ys")
        val kth = ys.last._2
        assert(xs.filterNot(x => close(x._2, kth)).map(_._1).toSet ===
          ys.filterNot(y => close(y._2, kth)).map(_._1).toSet, s"query $k")
      }
    } finally d.unpersist()
  }

  test("standing postings index: stored side unshuffled under a term-key join") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha bravo charlie common pad words"),
      (2L, "delta echo foxtrot common pad words"),
      (3L, "alpha delta golf common pad words"),
    ).toDF("doc_id", "text")
    Retrieval.writePostingsIndex(d, "bm25_idx_x", numBuckets = 8)
    // the serving plan broadcasts the query batch — but were the batch
    // too big to broadcast, the term-key shuffle join must exchange
    // ONLY the batch side: the stored postings scan's bucketing on
    // term satisfies its half of the join distribution (the
    // incrementalLshPairsFromIndex single-exchange contract)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val qterms = Seq((9L, "alpha"), (9L, "golf")).toDF("query_id", "term")
      val joined = spark.table("bm25_idx_x_postings").join(qterms, "term")
      val plan = joined.queryExecution.executedPlan.toString
      val nJoinKeyExchanges = "Exchange hashpartitioning\\(term".r
        .findAllIn(plan).length
      assert(nJoinKeyExchanges === 1,
        s"expected only the batch-side join exchange, got $nJoinKeyExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"stored postings must scan bucketed:\n$plan")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("micro BM25 agrees with the float path on fixture ranks") {
    val d = graft.Tables.load(spark, sfCorrect, "documents")
    val q = d.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val floatTop = Retrieval.bm25TopK(d, q, 5)
      .select("query_id", "rank", "doc_id")
    val microTop = Retrieval.queries("retrieval_bm25_topk")(spark, sfCorrect)
      .select("query_id", "rank", "doc_id")
    assert(floatTop.exceptAll(microTop).count() == 0 &&
      microTop.exceptAll(floatTop).count() == 0,
      "micro-int and float scoring must produce identical top-5 ranks")
  }
}
