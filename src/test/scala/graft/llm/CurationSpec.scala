package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Property tests for the corpus-curation operators; the value-level
  * gate is the DuckDB oracle on each `curate_*` key. */
class CurationSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfCorrect, "documents")

  test("stratified sample is deterministic and monotone in the rate") {
    val lo = Curation.stratifiedSample(docs, Seq("en" -> 40), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lo2 = Curation.stratifiedSample(docs, Seq("en" -> 40), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo == lo2, "same rates must select identical rows")
    val hi = Curation.stratifiedSample(docs, Seq("en" -> 80), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi),
      "raising every rate must yield a superset (stable bucket order)")
  }

  test("split assignment partitions the corpus and roughly hits 80/10/10") {
    val split = Curation.splitAssign(docs)
    val total = docs.count()
    assert(split.count() == total, "every document gets exactly one split")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    val trainFrac = counts("train").toDouble / total
    assert(trainFrac > 0.7 && trainFrac < 0.9,
      s"train fraction $trainFrac far from the 0.8 target")
  }

  test("uniform mix caps every source near the target and keeps small sources whole") {
    val target = 5.0
    val mixed = Curation.uniformMix(docs, target)
    val perSource = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      assert(n <= orig(src), s"$src grew under sampling")
    }
    orig.filter(_._2 <= target).foreach { case (src, n) =>
      assert(perSource.getOrElse(src, 0L) == n,
        s"source $src at/below target must be kept whole (rate 1.0)")
    }
  }

  test("temperature mix: alpha=1 keeps natural proportions, alpha<1 flattens") {
    val total = docs.count().toDouble
    // alpha=1 with target=total → keep_bp 10000 everywhere (identity)
    val nat = Curation.temperatureMix(docs, alpha = 1.0, totalTarget = total)
    assert(nat.count() == docs.count(),
      "alpha=1 at full target must keep the whole corpus")
    // alpha=0.5: rare domains keep a HIGHER fraction than common ones
    val mixed = Curation.temperatureMix(docs, alpha = 0.5, totalTarget = 250.0)
    val kept = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fracs = orig.map { case (l, n) =>
      l -> (kept.getOrElse(l, 0L).toDouble / n) }
    val (rare, common) = (orig.minBy(_._2)._1, orig.maxBy(_._2)._1)
    assert(fracs(rare) > fracs(common),
      s"rare domain $rare must survive at a higher rate than $common: $fracs")
  }

  test("epoch upsampling replicates by integer+fractional weight, deterministic") {
    val up = Curation.epochUpsample(docs,
      Curation.FixtureEpochWeights, Curation.FixtureEpochDefault)
    val perDoc = up.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max("epoch").as("max_e"))
    // copies = max_epoch+1 (contiguous 0-based epochs)
    assert(perDoc.filter(col("n") =!= col("max_e") + 1).count() == 0)
    // integer part is a hard floor/ceiling per source
    val bounds = up.groupBy("doc_id", "source").count()
      .groupBy("source").agg(min("count").as("lo"), max("count").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bounds("src0") == (3L, 4L) || bounds("src0") == (3L, 3L)
      || bounds("src0") == (4L, 4L), s"src0 copies outside [3,4]: $bounds")
    assert(bounds("src1") == (2L, 2L), "integer weight 2.0 must give exactly 2")
    // fractional-only weight 0.4 keeps a strict subset, each exactly once
    val src2 = up.filter(col("source") === "src2")
    assert(src2.groupBy("doc_id").count().filter(col("count") =!= 1).count() == 0)
    val src2Docs = src2.select("doc_id").distinct().count()
    val src2Orig = docs.filter(col("source") === "src2").count()
    assert(src2Docs > 0 && src2Docs < src2Orig,
      s"weight 0.4 should keep a strict nonempty subset ($src2Docs of $src2Orig)")
  }

  test("token-budget mix: surviving volume tracks the budget, small sources whole") {
    val budget = 3000.0
    val mixed = Curation.tokenBudgetMix(docs, budget)
    val perSource = mixed.groupBy("source")
      .agg(sum("n_chars").as("kept"), first("src_chars").as("total"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    perSource.foreach { case (kept, total) =>
      if (total <= budget) assert(kept == total,
        "a source inside the budget must be kept whole")
      else {
        // hash-fraction selection: expected kept ≈ budget; allow wide
        // slack for the small fixture (selection variance)
        assert(kept < total, "an over-budget source must shrink")
        assert(kept < 3 * budget,
          s"kept volume $kept wildly exceeds the $budget budget")
      }
    }
  }

  test("token-budget pack: hard cap per stream, deterministic, small sources whole") {
    val packed = Curation.tokenBudgetPack(docs, budgetChars = 3000L)
    // hard ceiling: within every (source, shard) stream the volume
    // BEFORE the last kept doc is under the per-shard share, so
    // kept - largest_doc < 750 always holds (overshoot ≤ one doc)
    val streams = packed.groupBy("source", "shard")
      .agg(sum("n_chars").as("kept"), max("n_chars").as("biggest"))
      .collect()
    streams.foreach { r =>
      assert(r.getLong(2) - r.getLong(3) < 750L,
        s"stream ${r.get(0)}/${r.get(1)} exceeds the cap beyond one doc")
    }
    // a source whose every stream fits inside its share survives whole
    val totals = docs.groupBy("source").agg(sum("n_chars").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySource = packed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docsBySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.filter(_._2 <= 750L).keys.foreach { s =>
      assert(keptBySource(s) == docsBySource(s),
        s"source $s fits in every stream share and must be kept whole")
    }
    // deterministic: same inputs, same survivors
    val again = Curation.tokenBudgetPack(docs, budgetChars = 3000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == packed.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("sequence packing covers every document once and buckets by running offset") {
    val packed = Curation.packSequences(docs, budgetChars = 2000L)
    assert(packed.count() == docs.count())
    // within a shard stream, offsets are the exclusive prefix sum:
    // re-derive via groupBy and compare totals
    val bad = packed.filter(
      col("seq_id") =!= floor(col("start_off") / 2000.0).cast("long"))
    assert(bad.count() == 0)
    // every (source, shard) stream starts at offset 0 / seq 0
    val firsts = packed.groupBy("source", "shard")
      .agg(min("start_off").as("min_off"), min("seq_id").as("min_seq"))
      .filter(col("min_off") =!= 0L || col("min_seq") =!= 0L)
    assert(firsts.count() == 0, "each packing stream must start at zero")
  }

  test("shuffle-shard is a permutation: dense 1..n positions per shard, stable order") {
    val shuf = Curation.shuffleShard(docs, nShards = 8)
    assert(shuf.count() == docs.count())
    // positions are dense ranks 1..|shard|
    val perShard = shuf.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("max_p"), min("pos").as("min_p"))
    assert(perShard.filter(col("max_p") =!= col("n") || col("min_p") =!= 1L)
      .count() == 0, "positions must be dense 1..n within each shard")
    // growing the corpus preserves relative order of surviving rows
    val subset = docs.filter(col("doc_id") % 3 === 0)
    val small = Curation.shuffleShard(subset, nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val bigOrder = shuf.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    small.groupBy(_._2._1).foreach { case (_, rows) =>
      val bysmall = rows.sortBy(_._2._2).map(_._1)
      val bybig = rows.sortBy(r => bigOrder(r._1)._2).map(_._1)
      assert(bysmall.sameElements(bybig),
        "within-shard relative order must survive corpus growth")
    }
  }

  test("shuffle-shard output lands as a bucketed, sorted, loader-ready table") {
    // the data-loader contract end-to-end: shuffleShard → bucketed-by-
    // shard sorted-by-pos table; each training reader then scans one
    // bucket in position order with no shuffle and no sort
    val shuf = Curation.shuffleShard(docs, nShards = 8)
    graft.sources.Ingest.writeBucketedTable(shuf, "curated_shards",
      bucketCols = Seq("shard"), numBuckets = 8, sortCols = Seq("pos"))
    val back = spark.table("curated_shards")
    assert(back.count() == docs.count())
    // a per-shard aggregate over the bucketed table plans NO exchange
    val agg = back.groupBy("shard").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed-by-shard aggregate must not reshuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS curated_shards")
  }

  test("paragraph dedup keeps first corpus occurrence, reassembles in order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "shared header\nunique one\nshared footer"),
      (2L, "shared header\nunique two\nshared footer"),
      (3L, "unique three\nshared header"),
      (4L, "rep\nrep"),          // within-doc repeat: survives once
      (5L, "shared header")      // all paragraphs are repeats: doc vanishes
    ).toDF("doc_id", "text")
    val out = Curation.paragraphDedup(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "shared header\nunique one\nshared footer",
      s"first carrier keeps everything: ${out.get(1L)}")
    assert(out(2L) == "unique two", "later carrier loses header+footer")
    assert(out(3L) == "unique three")
    assert(out(4L) == "rep")
    assert(!out.contains(5L), "doc of pure boilerplate must vanish")
  }

  test("decontamination flags every planted leaked copy") {
    val base = docs.select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    val flagged = Curation.decontaminate(train, evalSet)
      .filter(col("contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = evalSet.select((col("doc_id") + lit(30000L)).as("id"))
      .collect().map(_.getLong(0)).toSet
    val missed = planted -- flagged
    assert(missed.isEmpty, s"leaked copies not flagged: $missed")
  }

  test("eval coverage: leaked eval docs report 1.0, all eval docs reported") {
    val base = docs.select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    val cov = Curation.evalCoverage(train, evalSet).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val evalIds = evalSet.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cov.keySet === evalIds, "every eval doc gets a coverage row")
    // every eval doc has a verbatim copy in train → full coverage
    cov.foreach { case (id, f) => assert(f === 1.0, s"doc $id coverage $f") }
    // without the planted copies, coverage drops below 1.0 somewhere
    val organic = Curation.evalCoverage(
        base.filter(col("doc_id") % 41 =!= 0), evalSet).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(organic.values.exists(_ < 1.0), "organic overlap must not saturate")
  }

  test("decontamination shuffle-hash fallback: same result, no broadcast of the eval side") {
    // eval sets too large to hold on the driver take the join path: a
    // SHUFFLE_HASH equi-join on the shingle key instead of the
    // row-local kernel over the broadcast eval shingles. The two paths
    // are independent implementations; their rows must be identical.
    val base = docs.select(col("doc_id"), col("text"))
    val evalSet = base.filter(col("doc_id") % 41 === 0)
    val train = base.filter(col("doc_id") % 41 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + lit(30000L)).as("doc_id"),
        col("text")))
    val viaBroadcast = Curation.decontaminate(train, evalSet)
    val viaShuffle = Curation.decontaminateByJoin(train, evalSet)
    val kernelPlan = viaBroadcast.queryExecution.executedPlan.toString
    assert(kernelPlan.contains("shingle_overlap") && !kernelPlan.contains("Join"),
      s"default path must be the row-local kernel:\n$kernelPlan")
    val plan = viaShuffle.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"fallback must plan a shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"fallback must not broadcast the eval shingles:\n$plan")
    assert(viaBroadcast.exceptAll(viaShuffle).isEmpty &&
      viaShuffle.exceptAll(viaBroadcast).isEmpty,
      "fallback path must return the broadcast path's exact rows")
  }

  test("decontamination past the driver bounds takes the join path with the same rows") {
    import spark.implicits._
    def joinPlanned(df: org.apache.spark.sql.DataFrame): Boolean = {
      val plan = df.queryExecution.executedPlan.toString
      plan.contains("ShuffledHashJoin") && !plan.contains("shingle_overlap")
    }
    // more eval texts than EvalMaxDocs: each "eval <id>" text is one or
    // two 9-gram shingles
    val evalSet = spark.range(Curation.EvalMaxDocs + 1L)
      .select(col("id").as("doc_id"), concat(lit("eval "), col("id")).as("text"))
    val train = Seq((1L, "eval 12345"), (2L, "eval 99999 and more"),
      (3L, "unrelated text"), (4L, "eval 1")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, evalSet, minShared = 1)
    assert(joinPlanned(out), out.queryExecution.executedPlan.toString)
    val rows = out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows === Curation.decontaminateByJoin(train, evalSet, minShared = 1)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    assert(rows.map(_.head) === Seq(1L, 2L, 4L), rows)
    // more distinct eval shingles than the shingle bound: the counts
    // match the kernel's row for row
    val base = docs.select(col("doc_id"), col("text"))
    val small = base.filter(col("doc_id") % 41 === 0)
    val corpus = base.filter(col("doc_id") % 41 =!= 0)
    val overBound = Curation.overlapCounts(corpus, small,
      Curation.EvalMaxDocs, maxShingles = 5)
    val kernel = Curation.overlapCounts(corpus, small,
      Curation.EvalMaxDocs, Curation.EvalMaxShingles)
    assert(joinPlanned(overBound) && !joinPlanned(kernel))
    assert(overBound.exceptAll(kernel).isEmpty && kernel.exceptAll(overBound).isEmpty)
  }

  test("decontamination catches sub-shingle-size verbatim leaks (clamped count gate)") {
    import spark.implicits._
    // "42!" is shorter than the 9-char shingle, so it collapses to ONE
    // whole-text shingle; with the default minShared=10 an unclamped
    // gate could never flag its verbatim copy in the training corpus
    val evalSet = Seq((1L, "42!")).toDF("doc_id", "text")
    val train = Seq(
      (100L, "42!"),                                  // verbatim leak
      (101L, "a completely unrelated long document about nothing at all")
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, evalSet)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out.contains(100L), "verbatim short leak must share its shingle")
    assert(out(100L) == ((1L, 1L, true)),
      s"short verbatim leak must be contaminated: ${out(100L)}")
    assert(!out.contains(101L), "unrelated doc shares nothing")
  }

  test("quality-weighted sample keeps high-quality docs at a higher rate") {
    val sampled = Curation.qualityWeightedSample(docs)
    val n = sampled.count()
    assert(n > 0 && n < docs.count())
    // survivors' mean keep-rate must exceed the corpus mean score
    val meanKept = sampled.agg(avg(col("keep_bp"))).head().getDouble(0)
    val scoreCol = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score")
    val meanAll = docs.agg(avg(round(scoreCol * 10000))).head().getDouble(0)
    assert(meanKept > meanAll,
      s"survivor mean keep_bp $meanKept should exceed corpus mean $meanAll")
  }

  test("pipeline e2e: stages compose — no eval ids, no dupes, dense shard positions") {
    val out = Curation.pipelineE2e(docs)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // eval holdout really left the corpus
    assert(rows.forall(_.getLong(0) % 41 != 0))
    // one row per surviving doc
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // every split value valid; positions dense per shard
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    rows.groupBy(_.getLong(2)).foreach { case (_, rs) =>
      val ps = rs.map(_.getLong(3)).sorted
      assert(ps.head == 1L && ps.last == ps.length.toLong,
        "positions must be dense 1..n within each shard")
    }
    // subset of the plain split assignment on the same corpus
    val full = docs.count()
    assert(rows.length < full, "pipeline must actually drop something")
  }

  test("corpusDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val v1 = Seq((1L, "same text here"), (2L, "will be removed"),
      (3L, "will be changed")).toDF("doc_id", "text")
    val v2 = Seq((1L, "same text here"), (3L, "now changed text"),
      (4L, "brand new doc")).toDF("doc_id", "text")
    val got = Curation.corpusDiff(v1, v2).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "removed",
      3L -> "changed", 4L -> "added"))
  }

  test("filter funnel stages chain: rows_in(n) = rows_out(n-1), monotone") {
    val rows = Curation.filterFunnel(docs).orderBy("stage_idx").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("rows_out")) <=
        r.getLong(r.fieldIndex("rows_in")))
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(a.fieldIndex("rows_out")) ==
        b.getLong(b.fieldIndex("rows_in")))
    }
  }

  test("quality threshold: sketch inside band, cutoff keeps at least the target fraction") {
    val th = Curation.qualityThreshold(docs, keepFrac = 0.2).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(th.nonEmpty)
    th.values.foreach { case (_, _, tol) => assert(tol, "sketch out of band") }
    val score = TextAnalysis.qualityColumns(col("text"))
      .toMap.apply("quality_score")
    val scored = docs.select(col("source"), score.as("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    th.foreach { case (src, (n, cutoff, _)) =>
      val vs = scored.filter(_._1 == src).map(_._2)
      assert(n == vs.length)
      val kept = vs.count(_ >= cutoff).toDouble / vs.length
      // ties can only push the kept set ABOVE the target
      assert(kept >= 0.2 - 1.0 / vs.length,
        s"$src keeps $kept, target 0.2 (cutoff $cutoff)")
    }
  }

  test("perplexity buckets: tertile split over the corpus, no-bigram docs tail") {
    val b = Curation.perplexityBuckets(docs)
    val n = docs.count()
    assert(b.count() == n, "every document gets exactly one bucket")
    val counts = b.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("head", "middle", "tail")))
    Seq("head", "middle", "tail").foreach { k =>
      val c = counts.getOrElse(k, 0L)
      assert(c >= n / 5 && c <= n / 2,
        s"$k bucket far from a tertile: $counts")
    }
  }

  test("perplexity buckets: repeated boilerplate scores head, one-word docs tail") {
    import spark.implicits._
    // Three six-doc groups with bigram probabilities 1, 1/2, 1/3 under
    // the in-corpus MLE (contexts with 1, 2, 3 continuations) land in
    // head / middle / tail exactly; one-word docs have no bigram ->
    // tail, score null.
    val crafted = ((1L to 6L).map(i => (i, "x y")) ++
      (7L to 12L).map(i => (i, s"mid m${i % 2}")) ++
      (13L to 18L).map(i => (i, s"ctx w${i % 3}")) ++
      Seq((19L, "solo"), (20L, "alone"))).toDF("doc_id", "text")
    val by = Curation.perplexityBuckets(crafted).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("bucket"))).toMap
    (1L to 6L).foreach(i => assert(by(i) == "head", s"doc $i: ${by(i)}"))
    (7L to 12L).foreach(i => assert(by(i) == "middle", s"doc $i: ${by(i)}"))
    (13L to 18L).foreach(i => assert(by(i) == "tail", s"doc $i: ${by(i)}"))
    Seq(19L, 20L).foreach(i => assert(by(i) == "tail", s"doc $i: ${by(i)}"))
  }

  test("curriculum order: dense per-shard positions, ease non-increasing") {
    val out = Curation.curriculumOrder(docs, 8).collect()
    assert(out.length == docs.count())
    out.groupBy(_.getLong(out.head.fieldIndex("shard"))).foreach {
      case (shard, rows) =>
        val byPos = rows.sortBy(_.getLong(rows.head.fieldIndex("pos")))
        val positions = byPos.map(_.getLong(byPos.head.fieldIndex("pos")))
        assert(positions.toSeq == (1L to rows.length).toSeq,
          s"shard $shard positions not dense")
        val eases = byPos.map(_.getLong(byPos.head.fieldIndex("ease")))
        eases.sliding(2).foreach {
          case Array(a, b) => assert(a >= b,
            s"shard $shard: ease must be non-increasing along the order")
          case _ =>
        }
    }
    // deterministic
    val again = Curation.curriculumOrder(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("pos"))).toMap
    out.foreach { r =>
      assert(again(r.getLong(0)) == r.getLong(r.fieldIndex("pos")))
    }
  }

  test("importance resampling separates target-like from raw-like docs") {
    import spark.implicits._
    // Target docs share a distinctive bigram vocabulary; raw docs use
    // a disjoint one; probe docs written in each dialect but NOT in
    // the target set must be scored by content, not membership.
    val corpus = (
      (0L until 20L).map(i => (i, "alpha beta gamma delta alpha beta", true)) ++
      (20L until 40L).map(i => (i, "omega psi chi phi omega psi", false)) ++
      Seq((100L, "alpha beta gamma delta", false),   // target-dialect probe
        (101L, "omega psi chi phi", false),          // raw-dialect probe
        (102L, "solo", false))                       // < 2 words: no grams
    ).toDF("doc_id", "text", "is_t")
    val got = Curation.importanceResample(corpus, col("is_t"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got(100L)._3, "target-dialect probe must be selected")
    assert(got(100L)._2 > 0)
    assert(!got(101L)._3, "raw-dialect probe must not be selected")
    assert(got(101L)._2 < 0)
    assert(got(102L) === ((0L, 0L, false)), "gram-less doc scores 0, unselected")
    // determinism: the exact same frame on a second run
    val again = Curation.importanceResample(corpus, col("is_t"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got === again)
  }

  test("inspection sample: exactly n per source, deterministic, matches the window form") {
    val n = 5
    val got = Curation.inspectionSample(docs, n)
      .select("doc_id", "source", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perSource = got.groupBy(_._2).view.mapValues(_.length).toMap
    val sourceSizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sourceSizes.foreach { case (src, total) =>
      assert(perSource.getOrElse(src, 0) == math.min(n.toLong, total),
        s"source $src expected min($n, $total) sampled docs")
    }
    // value-equal to the window ROW_NUMBER form it replaces
    val ranked = docs.withColumn("rk",
      Curation.hashBucket("inspect:", col("doc_id"), 1000000))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("rk"), col("doc_id"))
    val windowForm = ranked
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
      .select("doc_id", "source", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet === windowForm.toSet)
  }

  test("shardManifest: order-free checksum, flips on any changed doc") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Curation.shardManifest(df, 4).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    val m1 = manifest(docs)
    // partition/order-invariant: a reshuffled input yields the same rows
    val m2 = manifest(docs.orderBy(col("doc_id").desc).repartition(7))
    assert(m1 === m2)
    assert(m1.values.map(_._1).sum === 50L)
    // one changed doc flips exactly its own shard's checksum
    val tweaked = docs.withColumn("text",
      when(col("doc_id") === 17L, lit("changed body")).otherwise(col("text")))
    val m3 = manifest(tweaked)
    assert(m1.keys.count(k => m1(k)._3 != m3(k)._3) === 1)
    assert(m1.keys.count(k => m1(k)._1 != m3(k)._1) === 0, "counts stable")
    // manifest shards certify the shuffleShard export assignment
    val fromShuffle = Curation.shuffleShard(docs, 4)
      .groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1.view.mapValues(_._1).toMap === fromShuffle)
  }

  test("negativePairs: deterministic, never self, k or fewer per anchor") {
    import spark.implicits._
    // sparse, clustered ids — rank-addressed selection must stay uniform
    val docs = (1L to 40L).map(i => (i * 7 + 1000, s"doc $i"))
      .toDF("doc_id", "text")
    val a = Curation.negativePairs(docs, 3).collect()
    val b = Curation.negativePairs(docs, 3).collect()
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet, "deterministic")
    val byAnchor = a.groupBy(_.getLong(0))
    assert(byAnchor.size === 40, "every anchor draws negatives")
    byAnchor.foreach { case (id, rows) =>
      assert(rows.length >= 2 && rows.length <= 3,
        s"anchor $id: ${rows.length} negatives")
      assert(rows.forall(_.getLong(2) != id), s"self negative for $id")
      assert(rows.forall(r => r.getLong(2) >= 1007 && r.getLong(2) <= 1280),
        "negatives are real corpus ids")
    }
    // draws spread over the corpus, not one hot row
    assert(a.map(_.getLong(2)).distinct.length > 10)
  }

  test("perplexity thresholds: driver fold == rank-select definition, ties and empties") {
    import spark.implicits._
    // r10 rework pin: perplexityThresholds collects the bounded
    // value-count frame and folds on the driver — this test re-states
    // the ORIGINAL definition (t_k = min score whose inclusive
    // cumulative count reaches (k·n + 2) DIV 3) independently and
    // checks it on tie-heavy and skewed score distributions.
    def replica(scores: Seq[Long]): (Long, Long) = {
      val sorted = scores.sorted
      val n = sorted.length.toLong
      def sel(target: Long): Long = sorted((target - 1).toInt.max(0))
      (sel((n + 2) / 3), sel((2 * n + 2) / 3))
    }
    val cases = Seq(
      Seq.fill(9)(5L),                         // all-tie corpus
      (1L to 10L),                             // distinct ascending
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 1000000L),   // zero-heavy + max value
      Seq(7L),                                 // single doc
      Seq(3L, 3L, 9L, 9L, 9L, 9L, 2L, 1L)).map(_.toSeq)
    cases.foreach { scores =>
      val scored = scores.zipWithIndex
        .map { case (s, i) => (i.toLong, 1L, s) }
        .toDF("doc_id", "n_bigrams", "score_micro")
      val th = Curation.perplexityThresholds(scored).head()
      val (t1, t2) = replica(scores)
      assert(th.getLong(0) == t1 && th.getLong(1) == t2,
        s"thresholds (${th.get(0)}, ${th.get(1)}) != replica ($t1, $t2) on $scores")
    }
    // degenerate corpus: nothing assessable -> null thresholds
    val empty = Seq.empty[(Long, Long, Long)]
      .toDF("doc_id", "n_bigrams", "score_micro")
      .withColumn("score_micro", lit(null).cast("long"))
    val thE = Curation.perplexityThresholds(empty).head()
    assert(thE.isNullAt(0) && thE.isNullAt(1))
  }
}
