package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FixtureGenSpec extends SparkSpec {

  test("aliasSlots: fills exactly, reproduces weights to 1/slots") {
    val w = Seq(("a", 60L), ("b", 30L), ("c", 10L))
    val slots = FixtureGen.aliasSlots(w, 1000)
    assert(slots.length == 1000)
    val counts = slots.groupBy(identity).view.mapValues(_.length).toMap
    assert(math.abs(counts("a") - 600) <= 2 &&
      math.abs(counts("b") - 300) <= 2 && math.abs(counts("c") - 100) <= 2,
      counts.toString)
    // deterministic: same input, same table
    assert(FixtureGen.aliasSlots(w, 1000).sameElements(slots))
  }

  test("documents: schema-identical to shipped fixture, deterministic, no dups") {
    val shipped = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val gen = FixtureGen.documents(spark, sfCorrect, 2000L)
    assert(gen.schema.map(f => (f.name, f.dataType)) ==
      shipped.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${gen.schema} vs ${shipped.schema}")
    val rows = gen.collect()
    assert(rows.length == 2000)
    // pure function of (seed, id): a second plan produces identical rows
    val again = FixtureGen.documents(spark, sfCorrect, 2000L).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // raw-corpus discipline: no exact duplicate texts (dedup fixtures
    // synthesize their own variants in-query)
    assert(gen.select("text").distinct().count() == 2000)
  }

  test("documents: empirical distributions track the source fixture") {
    val src = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val gen = FixtureGen.documents(spark, sfCorrect, 5000L)
    // vocabulary is exactly the source vocabulary (no invented words)
    val srcVocab = src.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    val genVocab = gen.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(genVocab.subsetOf(srcVocab), (genVocab -- srcVocab).toString)
    // lang mix within 3 points of the source (alias granularity + sampling)
    def mix(df: org.apache.spark.sql.DataFrame) = {
      val n = df.count().toDouble
      df.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    }
    val (sm, gm) = (mix(src), mix(gen))
    sm.foreach { case (lang, p) =>
      assert(math.abs(gm.getOrElse(lang, 0.0) - p) < 0.03, s"$lang: $p vs ${gm.get(lang)}")
    }
    // word-count range matches the shipped uniform(10..100) band
    val lens = gen.select(size(split(col("text"), " ")).as("n"))
      .agg(min("n"), max("n")).head()
    assert(lens.getInt(0) >= 10 && lens.getInt(1) <= 100, lens.toString)
  }

  test("documentsZipf: schema, determinism, Heaps vocab, Zipf skew") {
    val shipped = spark.read.parquet(s"$sfCorrect/documents.parquet")
    val gen = FixtureGen.documentsZipf(spark, sfCorrect, 4000L,
      vocabSize = 20000)
    assert(gen.schema.map(f => (f.name, f.dataType)) ==
      shipped.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${gen.schema} vs ${shipped.schema}")
    assert(gen.count() === 4000L)
    // pure function of (seed, id)
    val a = gen.orderBy("doc_id").limit(50).collect().map(_.toString)
    val b = FixtureGen.documentsZipf(spark, sfCorrect, 4000L, vocabSize = 20000)
      .orderBy("doc_id").limit(50).collect().map(_.toString)
    assert(a.sameElements(b), "regeneration drifted")
    // term frequencies: Zipf head — rank-1 term dominates; realistic
    // tail — thousands of distinct terms, many singletons (the ~31-word
    // shipped vocabulary has neither property)
    val tf = gen.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(r => (r.getString(0), r.getLong(1)))
    val byFreq = tf.sortBy(-_._2)
    assert(byFreq.head._1 == "w1", s"head term ${byFreq.head}")
    assert(tf.length > 5000, s"only ${tf.length} distinct terms")
    val singletons = tf.count(_._2 == 1)
    assert(singletons > 500, s"only $singletons singleton terms — no tail")
    // head/median skew: rank-1 frequency ≫ median frequency
    val med = byFreq(byFreq.length / 2)._2
    assert(byFreq.head._2 > 50 * med,
      s"head ${byFreq.head._2} vs median $med — not Zipf-skewed")
    // ranks stay inside the vocabulary bound
    val maxRank = tf.map(_._1.stripPrefix("w").toLong).max
    assert(maxRank <= 20000, s"rank $maxRank outside vocab")
    // lang mix still tracks the source (the retrieval diversified
    // fixture depends on the English share)
    def mix(df: org.apache.spark.sql.DataFrame) = {
      val n = df.count().toDouble
      df.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    }
    val (sm, gm) = (mix(shipped), mix(gen))
    sm.foreach { case (lang, p) =>
      assert(math.abs(gm.getOrElse(lang, 0.0) - p) < 0.03,
        s"$lang: $p vs ${gm.get(lang)}")
    }
    // Heaps sizing: anchor 50k at 5k docs, √10 growth per decade
    assert(FixtureGen.heapsVocabSize(5000L) === 50000)
    assert(math.abs(FixtureGen.heapsVocabSize(500000L) - 500000) < 2000)
  }

  test("relational up-scaler: schemas identical, counts scale, FKs resolve, envelopes hold") {
    val out = java.nio.file.Files.createTempDirectory("graft_fixgen_rel")
      .toString
    FixtureGen.writeScaledRelational(spark, sfSmoke, out, mult = 3)
    def src(t: String) = spark.read.parquet(s"$sfSmoke/$t.parquet")
    def gen(t: String) = spark.read.parquet(s"$out/$t.parquet")
    // schema parity on every table, including pass-through dims
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      assert(gen(t).schema.map(f => (f.name, f.dataType)) ==
        src(t).schema.map(f => (f.name, f.dataType)),
        s"schema drift in $t: ${gen(t).schema} vs ${src(t).schema}")
    }
    // dims copy through; scaled parents multiply exactly; lineitem
    // multiplies to within the histogram-sampling tolerance
    assert(gen("region").count() === src("region").count())
    assert(gen("nation").count() === src("nation").count())
    Seq("customer", "supplier", "part", "orders", "events").foreach { t =>
      assert(gen(t).count() === src(t).count() * 3, s"$t count")
    }
    val liRatio = gen("lineitem").count().toDouble / src("lineitem").count()
    assert(math.abs(liRatio - 3.0) < 0.3, s"lineitem ratio $liRatio")
    // FK discipline: every child key must resolve in the SCALED parent
    def orphans(child: org.apache.spark.sql.DataFrame, ck: String,
        parent: org.apache.spark.sql.DataFrame, pk: String) =
      child.select(col(ck).as("k")).distinct()
        .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti").count()
    assert(orphans(gen("orders"), "o_custkey", gen("customer"), "c_custkey") === 0)
    assert(orphans(gen("lineitem"), "l_orderkey", gen("orders"), "o_orderkey") === 0)
    assert(orphans(gen("lineitem"), "l_partkey", gen("part"), "p_partkey") === 0)
    assert(orphans(gen("lineitem"), "l_suppkey", gen("supplier"), "s_suppkey") === 0)
    assert(orphans(gen("customer"), "c_nationkey", gen("nation"), "n_nationkey") === 0)
    // FKs actually USE the scaled range (not just the source range):
    // at mult=3, some o_custkey must land beyond the source max
    val srcMaxCust = src("customer").agg(max("c_custkey")).head().getLong(0)
    assert(gen("orders").filter(col("o_custkey") > srcMaxCust).count() > 0,
      "o_custkey never exceeds the unscaled parent range — FKs not scaled")
    // value envelopes: dates inside the source envelope, categorical
    // supports equal
    val env = src("orders").agg(min("o_orderdate").as("mn"),
      max("o_orderdate").as("mx"))
    val outside = gen("orders").crossJoin(env)
      .filter(col("o_orderdate") < col("mn") ||
        col("o_orderdate") > col("mx")).count()
    assert(outside === 0, s"$outside orderdates outside the source envelope")
    def support(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).distinct().collect().map(_.get(0).toString).toSet
    assert(support(gen("orders"), "o_orderstatus") ===
      support(src("orders"), "o_orderstatus"))
    assert(support(gen("lineitem"), "l_returnflag") ===
      support(src("lineitem"), "l_returnflag"))
    assert(support(gen("events"), "event_type") ===
      support(src("events"), "event_type"))
    // per-order line counts stay inside the source histogram support
    val srcMaxLines = src("lineitem").groupBy("l_orderkey").count()
      .agg(max("count")).head().getLong(0)
    val genMaxLines = gen("lineitem").groupBy("l_orderkey").count()
      .agg(max("count")).head().getLong(0)
    assert(genMaxLines <= srcMaxLines,
      s"per-order line count $genMaxLines exceeds source max $srcMaxLines")
  }

  test("documents, documentsZipf and the relational tables match their pinned digests") {
    // row count and an order-insensitive hash of the rows: a changed
    // alias-table order (or value list) changes every draw after it
    def digest(df: org.apache.spark.sql.DataFrame): String = {
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
          .cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum("h")).head()
      s"${r.getLong(0)}:${r.getDecimal(1)}"
    }
    val out = java.nio.file.Files.createTempDirectory("graft_fixgen_digest").toString
    FixtureGen.writeScaledRelational(spark, sfSmoke, out, mult = 2)
    val got = Map(
      "documents" -> digest(FixtureGen.documents(spark, sfSmoke, 1000L)),
      "documentsZipf" -> digest(FixtureGen.documentsZipf(spark, sfSmoke, 1000L))) ++
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events").map(t => t -> digest(spark.read.parquet(s"$out/$t.parquet")))
    assert(got === Map(
      "documents" -> "1000:-104138088565827072794",
      "documentsZipf" -> "1000:83595683179527343002",
      "region" -> "5:7370162031071439404",
      "nation" -> "25:-19822004785370969197",
      "customer" -> "300:-69870537555537086033",
      "supplier" -> "20:-16969506056312243426",
      "part" -> "400:-41573086556175216592",
      "orders" -> "3000:-532548519976593924628",
      "lineitem" -> "12244:645324265301429538792",
      "events" -> "2000:-123881525502080183237"))
  }

  test("embeddings: unit norms, shipped schema, labels 0-9") {
    val shipped = spark.read.parquet(s"$sfCorrect/embeddings.parquet")
    val gen = FixtureGen.embeddings(spark, 1000L)
    assert(gen.schema.map(f => (f.name, f.dataType)) ==
      shipped.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${gen.schema} vs ${shipped.schema}")
    val normBounds = gen.select(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))).as("n"))
      .agg(min("n"), max("n")).head()
    assert(normBounds.getDouble(0) > 0.999 && normBounds.getDouble(1) < 1.001,
      normBounds.toString)
    val labels = gen.select("label").distinct().collect().map(_.getInt(0)).sorted
    assert(labels.sameElements(0 to 9), labels.mkString(","))
  }
}
