package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int, second: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:$second%02d")

  test("curation ops are stream-transparent: streaming split/sample equals batch") {
    // splitAssign / stratifiedSample / qualityWeightedSample are pure
    // map-only column dataflows, so the SAME library functions run
    // unchanged on a streaming DataFrame (append mode, no state) and
    // must select the identical rows the batch path selects — the
    // contract that lets one curation recipe serve both the backfill
    // and the ingest-time path.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.Curation
    val docs = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toSeq
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDF().toDF("doc_id", "text", "lang")
    val out = Curation.splitAssign(
        Curation.stratifiedSample(stream, Curation.FixtureRates,
          Curation.FixtureRateDefault).drop("bucket"))
      .writeStream.format("memory").queryName("curstream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); out.processAllAvailable()
      input.addData(b: _*); out.processAllAvailable()
      val streamed = spark.table("curstream")
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = Curation.splitAssign(
          Curation.stratifiedSample(
            graft.Tables.load(spark, sfSmoke, "documents"),
            Curation.FixtureRates, Curation.FixtureRateDefault).drop("bucket"))
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch,
        "streaming curation must select exactly the batch rows")
    } finally out.stop()
  }

  test("per-batch streaming decontamination equals the batch result") {
    // decontamination scores each doc against a STATIC eval shingle
    // set, so running the batch operator per micro-batch (foreachBatch)
    // is exact — stateless, idempotent, no cross-batch state to evict.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.Curation
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text")
    val evalSet = base.filter(org.apache.spark.sql.functions.col("doc_id") % 41 === 0)
    val trainDocs = base.as[(Long, String)].collect().toSeq
      .filter(_._1 % 41 != 0) ++
      base.as[(Long, String)].collect().toSeq
        .filter(_._1 % 41 == 0).map { case (id, t) => (id + 30000L, t) }
    val flagged = scala.collection.mutable.Set[Long]()
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Curation.decontaminate(batch, evalSet, minShared = 1, minFrac = 0.8)
          .filter(org.apache.spark.sql.functions.col("contaminated"))
          .select("doc_id").collect()
          .foreach(r => flagged.synchronized { flagged += r.getLong(0) })
      }.start()
    try {
      val (a, b) = trainDocs.splitAt(trainDocs.size / 2)
      input.addData(a: _*); query.processAllAvailable()
      input.addData(b: _*); query.processAllAvailable()
      val batchFlagged = Curation.decontaminate(
          base.filter(org.apache.spark.sql.functions.col("doc_id") % 41 =!= 0)
            .unionByName(evalSet.select(
              (org.apache.spark.sql.functions.col("doc_id") + 30000L).as("doc_id"),
              org.apache.spark.sql.functions.col("text"))),
          evalSet, minShared = 1, minFrac = 0.8)
        .filter(org.apache.spark.sql.functions.col("contaminated"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flagged.toSet == batchFlagged,
        "streaming per-batch decontamination must flag exactly the batch set")
      assert(batchFlagged.nonEmpty, "planted copies must be flagged")
    } finally query.stop()
  }

  test("chunkDocs is stream-transparent: streaming chunks equal batch") {
    // chunking is a row-local transform (no shuffle, no state), so the
    // SAME library function runs unchanged on a streaming DataFrame in
    // append mode and must emit exactly the batch chunk set.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.TextAnalysis
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text")
    val docs = base.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val out = TextAnalysis.chunkDocs(input.toDF().toDF("doc_id", "text"), 32, 24)
      .writeStream.format("memory").queryName("chunkstream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); out.processAllAvailable()
      input.addData(b: _*); out.processAllAvailable()
      val streamed = spark.table("chunkstream")
        .select("doc_id", "chunk_id", "chunk_text").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
      val batch = TextAnalysis.chunkDocs(base, 32, 24)
        .select("doc_id", "chunk_id", "chunk_text").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
      assert(streamed == batch,
        "streaming chunking must emit exactly the batch chunks")
      assert(batch.nonEmpty)
    } finally out.stop()
  }

  test("blocklist counting is stream-transparent: streaming hits equal batch") {
    // the Aho-Corasick counter is a row-local expression (the pattern
    // automaton rides inside the plan), so the same column runs
    // unchanged on a streaming frame in append mode.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.functions.MultiPatternCount.multiPatternCount
    import org.apache.spark.sql.functions.col
    val pats = Seq("slow fast", "table value", "a a")
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text")
    val docs = base.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val out = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), multiPatternCount(col("text"), pats).as("n"))
      .writeStream.format("memory").queryName("blockstream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); out.processAllAvailable()
      input.addData(b: _*); out.processAllAvailable()
      val streamed = spark.table("blockstream").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = base
        .select(col("doc_id"), multiPatternCount(col("text"), pats).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch,
        "streaming blocklist counts must equal the batch counts")
      assert(batch.nonEmpty)
    } finally out.stop()
  }

  test("per-batch streaming LM scoring against a static trained LM equals batch") {
    // the production shape of the perplexity-style filter: the bigram
    // LM is trained ONCE (here on the full fixture corpus), then the
    // ingest stream is scored per micro-batch against that static
    // broadcast table — each doc's score depends only on its own
    // bigrams, so per-batch equals batch exactly.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.TextAnalysis
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text")
    val lm = TextAnalysis.trainBigramLm(base).cache()
    lm.count() // materialize the static LM before streaming starts
    val docs = base.as[(Long, String)].collect().toSeq
    val scores = scala.collection.mutable.Map[Long, (Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextAnalysis.scoreBigrams(batch, lm).collect().foreach { r =>
          scores.synchronized {
            scores(r.getLong(0)) = (r.getLong(1), r.getLong(2))
          }
        }
      }.start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); query.processAllAvailable()
      input.addData(b: _*); query.processAllAvailable()
      val batchScores = TextAnalysis.scoreBigrams(base, lm).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(scores.toMap == batchScores,
        "per-batch scores must equal the batch result exactly")
      assert(batchScores.values.exists(_._1 > 0), "non-trivial scores")
    } finally { query.stop(); lm.unpersist() }
  }

  test("idempotent parquet sink: a replayed batch lands exactly once") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_idem_sink").toString
    val batch = Seq((1L, "view"), (2L, "click")).toDF("event_id", "event_type")
    Streams.writeBatchIdempotent(batch, 0L, out)
    assert(spark.read.parquet(out).count() === 2)
    // simulate the crash-replay: the SAME batch body runs again with
    // the SAME batch id — dynamic overwrite must not duplicate rows
    Streams.writeBatchIdempotent(batch, 0L, out)
    assert(spark.read.parquet(out).count() === 2)
    // a NEW batch id appends alongside, untouched by the overwrite
    Streams.writeBatchIdempotent(Seq((3L, "view")).toDF("event_id", "event_type"),
      1L, out)
    val rows = spark.read.parquet(out)
    assert(rows.count() === 3)
    // partition-dir columns read back integer-inferred — cast up
    assert(rows.selectExpr("CAST(batch_id AS BIGINT)").distinct().count() === 2)
  }

  test("nearDupCandidatesStream finds the batch LSH candidate pairs incrementally") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.col
    // the batch fixture corpus (originals + near-dup tails + copies)
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 40))
    // batch candidate criterion: bucket equality in >= 1 band of the
    // SAME kernel's buckets
    val buckets = Dedup.lshBuckets(Dedup.lshRows(Dedup.lshDocs(corpus), 4))
    val batchPairs = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "fixture must contain near-dups")

    // stream the same docs in two micro-batches (split across batches
    // so cross-batch state is exercised), all inside the TTL horizon
    val docs = corpus.collect().map(r =>
      Streams.DocEvent(r.getLong(0), ts(1), r.getString(1))).sortBy(_.doc_id)
    val (first, second) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[Streams.DocEvent]
    val query = Streams.nearDupCandidatesStream(input.toDF())
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(first.toSeq); query.processAllAvailable()
      input.addData(second.toSeq); query.processAllAvailable()
      val streamed = spark.table("neardup")
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // same criterion, same signatures -> same (unordered) pair set;
      // per-band duplicates collapse in the set
      assert(streamed === batchPairs,
        s"missed ${batchPairs -- streamed}, invented ${streamed -- batchPairs}")
      // replaying batch one adds nothing (ids already in bucket state)
      input.addData(first.toSeq); query.processAllAvailable()
      val after = spark.table("neardup")
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === batchPairs, "replay must not re-emit pairs")
    } finally query.stop()
  }

  test("nearDupCandidatesStream drops null texts: two null-text events give no pair") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    // no watermark-only batch after the data: lastExecution below is
    // the batch that ran the kernel
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val input = MemoryStream[Streams.DocEvent]
    val query = Streams.nearDupCandidatesStream(input.toDF())
      .writeStream.format("memory").queryName("neardup_null")
      .outputMode(OutputMode.Append()).start()
    try {
      val text = "the same text on both events, long enough to shingle"
      input.addData(Streams.DocEvent(1, ts(1), null), Streams.DocEvent(2, ts(1), null),
        Streams.DocEvent(3, ts(1), text), Streams.DocEvent(4, ts(1), text))
      query.processAllAvailable()
      val pairs = spark.table("neardup_null").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the copies pair (the stream is live); the null texts pair with nothing
      assert(pairs === Set((3L, 4L)))
      // one kernel call per row: the stack generator reads the kernel's
      // projection, with no inferred filter re-running it
      val plan = query.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert("minhash_lsh\\(".r.findAllIn(plan).length === 1, plan)
    } finally {
      query.stop()
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
  }

  test("streaming ingest pipeline (normalize -> gopher -> DSIR -> decontaminate) equals batch") {
    // the full production ingest path composed in ONE foreachBatch:
    // normalize text, drop docs failing quality rules, score against a
    // static DSIR table, flag eval-set contamination — every stage is
    // stateless per document given the two static frames (the DSIR
    // log-ratio table and the eval shingle set), so per-batch results
    // must equal the one-shot batch pipeline exactly.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.{Curation, TextAnalysis}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.DataFrame
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text", "source")
    val lr = Curation.importanceTable(base, col("source") === "src0").cache()
    lr.count()
    val evalDf = base.filter(col("doc_id") % 41 === 0)
      .select("doc_id", "text").cache()
    evalDf.count()
    def pipeline(df: DataFrame): DataFrame = {
      val rules = TextAnalysis.gopherRuleColumns(col("text")).toMap
      val kept = df
        .withColumn("text", TextAnalysis.normalizeText(col("text")))
        .filter(rules("rule_stopwords") && rules("rule_alpha_words"))
      Curation.scoreImportance(kept, lr)
        .join(Curation.decontaminate(kept, evalDf)
          .select(col("doc_id"), col("contaminated")), "doc_id")
    }
    val docs = base.select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq
    val got = scala.collection.mutable.Map[Long, (Long, Boolean, Boolean)]()
    val input = MemoryStream[(Long, String, String)]
    val query = input.toDF().toDF("doc_id", "text", "source").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        pipeline(batch).collect().foreach { r =>
          got.synchronized {
            got(r.getLong(0)) =
              (r.getLong(2), r.getBoolean(3), r.getBoolean(4))
          }
        }
      }.start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); query.processAllAvailable()
      input.addData(b: _*); query.processAllAvailable()
      val batchOut = pipeline(base).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
      assert(got.toMap == batchOut,
        "per-batch pipeline must equal the batch pipeline exactly")
      assert(batchOut.nonEmpty)
      // an eval doc that survives the quality gate shares ALL its
      // shingles with itself in the eval set → must flag contaminated
      val survivingEval = batchOut.keySet.filter(_ % 41 == 0)
      survivingEval.foreach { id =>
        assert(batchOut(id)._3, s"surviving eval doc $id must flag")
      }
    } finally { query.stop(); lr.unpersist(); evalDf.unpersist() }
  }

  test("per-batch streaming importance scoring against a static DSIR table equals batch") {
    // the production DSIR shape: the log-ratio table is trained ONCE
    // on a labeled reference corpus, then the ingest stream is scored
    // per micro-batch against the static broadcast table — a doc's
    // weight depends only on its own bigrams, so per-batch == batch.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.Curation
    import org.apache.spark.sql.functions.col
    val base = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text", "source")
    val lr = Curation.importanceTable(base, col("source") === "src0").cache()
    lr.count() // materialize the static table before streaming starts
    val docs = base.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val weights = scala.collection.mutable.Map[Long, (Long, Long, Boolean)]()
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Curation.scoreImportance(batch, lr).collect().foreach { r =>
          weights.synchronized {
            weights(r.getLong(0)) =
              (r.getLong(1), r.getLong(2), r.getBoolean(3))
          }
        }
      }.start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); query.processAllAvailable()
      input.addData(b: _*); query.processAllAvailable()
      val batchW = Curation.scoreImportance(base, lr).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      assert(weights.toMap == batchW,
        "per-batch weights must equal the batch result exactly")
      assert(batchW.values.exists(_._3), "some docs select")
      assert(batchW.values.exists(!_._3), "some docs do not select")
    } finally { query.stop(); lr.unpersist() }
  }

  test("gopher rule battery is stream-transparent: streaming filter equals batch") {
    // gopherRuleColumns is a pure row-local projection, so the SAME
    // rule battery runs unchanged on the ingest stream (append mode,
    // no state) — the pre-filter shape a production pipeline applies
    // before anything stateful touches the data.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.TextAnalysis
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sfSmoke, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val cols = TextAnalysis.gopherRuleColumns(col("text"))
      .map { case (n, c) => c.as(n) }
    val out = stream.select((col("doc_id") +: cols): _*)
      .writeStream.format("memory").queryName("gopherstream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      input.addData(a: _*); out.processAllAvailable()
      input.addData(b: _*); out.processAllAvailable()
      val streamed = spark.table("gopherstream")
        .select("doc_id", "pass_gopher", "n_words").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
      val batchDf = graft.Tables.load(spark, sfSmoke, "documents")
      val batch = batchDf.select((col("doc_id") +: TextAnalysis
          .gopherRuleColumns(col("text")).map { case (n, c) => c.as(n) }): _*)
        .select("doc_id", "pass_gopher", "n_words").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
      assert(streamed == batch,
        "streaming gopher rules must score exactly the batch values")
    } finally out.stop()
  }

  test("streaming probe of the standing dedup index equals the batch probe") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.Dedup
    val mk = (s: String) => s + " lorem ipsum dolor sit amet common pad"
    val corpus = Seq(
      (1L, mk("alpha bravo charlie delta echo foxtrot")),
      (3L, mk("zulu yankee xray whiskey victor uniform")),
      (5L, mk("golf hotel india juliett kilo lima")))
      .toDF("doc_id", "text")
    Dedup.writeDedupIndex(corpus, "stream_dedup_idx", numBuckets = 8)
    // two ingest micro-batches: one dup of doc 1, then a dup of doc 5
    // plus a genuinely new doc
    val b1 = Seq((10L, mk("alpha bravo charlie delta echo foxtrot")))
    val b2 = Seq((11L, mk("golf hotel india juliett kilo lima")),
      (12L, mk("papa quebec romeo sierra tango unique")))
    val out = java.nio.file.Files.createTempDirectory("graft_idx_probe")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idx_ckpt")
    val input = MemoryStream[(Long, String)]
    val query = Streams.startDedupIndexProbe(
      input.toDF().toDF("doc_id", "text"), "stream_dedup_idx",
      out.toString, ckpt.toString)
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val streamed = spark.read.parquet(out.toString)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      // union of per-batch probes == one batch probe of the whole
      // ingest (candidates are old×new only; verify is per-pair)
      val direct = Dedup.incrementalLshPairsFromIndex("stream_dedup_idx",
          (b1 ++ b2).toDF("doc_id", "text"), 0.5)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(streamed.toSeq === direct.toSeq)
      assert(streamed.toSeq === Seq((1L, 10L), (5L, 11L)))
      // a crash-replay of batch 1's body cannot duplicate pairs
      Streams.writeBatchIdempotent(
        Dedup.incrementalLshPairsFromIndex("stream_dedup_idx",
          b1.toDF("doc_id", "text"), 0.5), 0L, out.toString)
      assert(spark.read.parquet(out.toString).count() === 2)
    } finally query.stop()
  }

  test("streaming probe of the standing cosine index equals the batch probe") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.llm.Dedup
    def vec(seed: Int): Array[Long] =
      Array.tabulate(8)(i => (((seed * 31 + i * 17) % 2001) - 1000).toLong * 1000L)
    def rows(vs: Seq[(Long, Array[Long])]): Seq[(Long, Long, Long)] =
      vs.flatMap { case (id, v) =>
        v.zipWithIndex.map { case (e, i) => (id, (i + 1).toLong, e) } }
    val old = Seq(1L -> vec(1), 2L -> vec(2), 3L -> vec(3))
    Dedup.writeCosineIndex(rows(old).toDF("id", "i", "e_micro"),
      "stream_cos_idx", nBands = 4, bitsPerBand = 8, dims = 8,
      numBuckets = 8)
    // two ingest micro-batches: a near-copy of vector 1, then a
    // near-copy of vector 3 plus a genuinely new vector
    val b1 = rows(Seq(10L -> vec(1).map(_ + 5L)))
    val b2 = rows(Seq(11L -> vec(3).map(_ - 7L), 12L -> vec(9)))
    val out = java.nio.file.Files.createTempDirectory("graft_cos_probe")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cos_ckpt")
    val input = MemoryStream[(Long, Long, Long)]
    val query = Streams.startCosineIndexProbe(
      input.toDF().toDF("id", "i", "e_micro"), "stream_cos_idx",
      out.toString, ckpt.toString)
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val streamed = spark.read.parquet(out.toString)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      // union of per-batch probes == one probe of the whole ingest
      // (candidates are old×new only; the cosine verify is per-pair)
      val direct = Dedup.cosineNearDupPairsFromIndex("stream_cos_idx",
          (b1 ++ b2).toDF("id", "i", "e_micro"), 0.9)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(streamed.toSeq === direct.toSeq)
      assert(streamed.toSeq.contains((1L, 10L)))
      assert(streamed.toSeq.contains((3L, 11L)))
      // a crash-replay of batch 0's body cannot duplicate pairs
      val before = spark.read.parquet(out.toString).count()
      Streams.writeBatchIdempotent(
        Dedup.cosineNearDupPairsFromIndex("stream_cos_idx",
          b1.toDF("id", "i", "e_micro"), 0.9), 0L, out.toString)
      assert(spark.read.parquet(out.toString).count() === before)
    } finally query.stop()
  }
}
