package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def textDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ------------------------------------------------------ TextAnalysis

  test("rollingHash matches a direct Scala fold") {
    def direct(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 131L + c.toLong) % 1000000007L)
    val samples = Seq("", "a", "hello world", "the quick brown fox")
    val got = textDf(samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }: _*)
      .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("h"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(got.toSeq === samples.map(direct))
  }

  test("native rollingHash is bit-identical to the HOF form (incl. non-ASCII)") {
    val samples = Seq("", "a", "hello world", "the quick brown fox",
      "übergrößen straße", "日本語のテキスト", "mixed ascii と 漢字",
      "éèê accents", "tab\tnew\nline", "emoji \ud83d\ude00 pair")
    val df = textDf(samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }: _*)
      .select(col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("native"),
        TextAnalysis.rollingHashHof(col("text")).as("hof"))
    val rows = df.orderBy("doc_id").collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getLong(1) === r.getLong(2), s"diverged on '$s'")
    }
  }

  test("langId picks the dominant stopword language") {
    val df = textDf(
      (0L, "the cat and the dog in a house"),
      (1L, "der hund und die katze ist nicht da"),
      (2L, "le chat et la souris est une histoire"),
      (3L, "el perro y los gatos es una historia"),
      (4L, "xyzzy plugh"))
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.toSeq === Seq("en", "de", "fr", "es", "und"))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = textDf((0L, "hello world, it's 42 degrees!"))
    val r = df.select(
      TextAnalysis.tokenCountWs(col("text")),
      TextAnalysis.tokenCountBpe(col("text"))).head()
    assert(r.getInt(0) === 5)
    // hello | world | , | it | ' | s | 42 | degrees | ! = 9
    assert(r.getInt(1) === 9)
  }

  test("idfScore: df counts docs, all-unique corpus scores 1.0, repeats dilute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),   // alpha in 3 docs, beta in 2, gamma in 1
      (2L, "alpha beta"),
      (3L, "alpha alpha delta")   // repeated occurrence, df still 3
    ).toDF("doc_id", "text")
    val scored = TextAnalysis.idfScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getDouble(r.fieldIndex("mean_inv_df")),
        r.getDouble(r.fieldIndex("rare_frac")))).toMap
    // doc 1: tokens (1/3, 1/2, 1/1) → mean 11/18; rare: beta+gamma = 2/3
    assert(scored(1L)._1 == 3L)
    assert(math.abs(scored(1L)._2 - 11.0 / 18.0) < 1e-6)
    assert(math.abs(scored(1L)._3 - 2.0 / 3.0) < 1e-9)
    // doc 3: (1/3, 1/3, 1/1) → mean 5/9; only delta (df=1) is rare
    assert(scored(3L)._1 == 3L)
    assert(math.abs(scored(3L)._2 - 5.0 / 9.0) < 1e-6)
    assert(math.abs(scored(3L)._3 - 1.0 / 3.0) < 1e-9)
    // an all-unique-token corpus scores mean_inv_df = rare_frac = 1
    val uniq = TextAnalysis.idfScore(
      Seq((9L, "solo tokens only here")).toDF("doc_id", "text")).head()
    assert(uniq.getDouble(uniq.fieldIndex("mean_inv_df")) == 1.0)
    assert(uniq.getDouble(uniq.fieldIndex("rare_frac")) == 1.0)
  }

  test("idfScore joins the df frame as a broadcast (no token-key shuffle join)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val df = TextAnalysis.idfScore(docs)
    df.collect()
    // the occurrence→df join must be BroadcastHashJoin: a shuffled
    // join on the Zipf-skewed token key would put every stopword
    // occurrence in one reducer at 100 TB
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(800))
  }

  test("repetitionMetrics: dup/top fractions at word and bigram level") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),  // words: 4 total, 2 distinct → dup 1/2, top 3/4
                        // bigrams: "a a","a a","a b" → dup 1/3, top 2/3
      (2L, "x"),        // single word: bigram fractions must be 0.0
      (3L, "p q r s")   // all unique → dup 0, top 1/4; bigrams dup 0, top 1/3
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs).collect().map { r =>
      r.getLong(0) -> (r.getLong(1),
        r.getDouble(r.fieldIndex("dup_word_frac")),
        r.getDouble(r.fieldIndex("top_word_frac")),
        r.getDouble(r.fieldIndex("dup_bigram_frac")),
        r.getDouble(r.fieldIndex("top_bigram_frac")))
    }.toMap
    assert(m(1L) == ((4L, 0.5, 0.75, 1.0 / 3.0, 2.0 / 3.0)))
    assert(m(2L) == ((1L, 0.0, 1.0, 0.0, 0.0)))
    assert(m(3L) == ((4L, 0.0, 0.25, 0.0, 1.0 / 3.0)))
  }

  test("redactPii counts then replaces emails, phones, and hex keys") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@ex-ample.org and d@e.io, call +4915512345678"),
      (2L, s"leaked ${"0123456789abcdef" * 2} plus clean text"),
      (3L, "nothing sensitive here, 12345 and word@@word are fine")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(out(1L).fieldIndex("n_email")) == 2)
    assert(out(1L).getInt(out(1L).fieldIndex("n_phone")) == 1)
    val red1 = out(1L).getString(out(1L).fieldIndex("redacted"))
    assert(red1 == "mail <EMAIL> and <EMAIL>, call <PHONE>")
    assert(out(2L).getInt(out(2L).fieldIndex("n_key")) == 1)
    assert(out(2L).getString(out(2L).fieldIndex("redacted"))
      == "leaked <KEY> plus clean text")
    assert(out(3L).getInt(out(3L).fieldIndex("n_email")) == 0)
    assert(out(3L).getString(out(3L).fieldIndex("redacted"))
      == "nothing sensitive here, 12345 and word@@word are fine")
  }

  test("splitSentences: terminator runs close sentences, tail kept, empties dropped") {
    val out = TextAnalysis.splitSentences(textDf(
      (1L, "One two. Three four!! Done?  "),
      (2L, "no terminator at all"),
      (3L, "...")
    )).collect().map(r => (r.getLong(0), r.getInt(1)) ->
      (r.getInt(2), r.getString(3))).toMap
    assert(out((1L, 0)) == (8, "One two."))
    assert(out((1L, 1)) == (12, "Three four!!"))
    assert(out((1L, 2)) == (5, "Done?"))
    assert(out((2L, 0)) == (20, "no terminator at all"))
    // a doc of only terminators yields no non-empty sentence
    assert(!out.keySet.exists(_._1 == 3L))
    assert(out.size == 4)
  }

  test("oovRate: occurrences outside the top-N vocabulary are counted") {
    import spark.implicits._
    // counts: the=4, of=3, rare1=1, rare2=1 -> top-2 vocab = {of, the}
    val docs = Seq(
      (1L, "the the of rare1"),
      (2L, "the of of rare2 the")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, topN = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(out(1L).fieldIndex("n_tokens")) == 4)
    assert(out(1L).getLong(out(1L).fieldIndex("n_oov")) == 1)
    assert(out(2L).getLong(out(2L).fieldIndex("n_oov")) == 1)
    assert(math.abs(out(2L).getDouble(out(2L).fieldIndex("oov_rate"))
      - 0.2) < 1e-12)
  }

  test("zipfSlope matches a driver-side OLS over the same rounded points") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a b b c d"), (2L, "a a b b c e f g"))
      .toDF("doc_id", "text")
    val row = TextAnalysis.zipfSlope(docs).head()
    // counts: a=6 b=4 c=2 d=1 e=1 f=1 g=1; rank by (n desc, token)
    val counts = Seq(6L, 4L, 2L, 1L, 1L, 1L, 1L)
    val pts = counts.zipWithIndex.map { case (n, i) =>
      (math.round(math.log(i + 1.0) * 10000),
        math.round(math.log(n.toDouble) * 10000))
    }
    val m = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val want = math.round(
      (m * sxy - sx * sy).toDouble / (m * sxx - sx * sx) * 10000)
    assert(row.getLong(row.fieldIndex("n_vocab")) == 7)
    assert(row.getLong(row.fieldIndex("slope_bp")) == want)
  }

  test("cdcChunks: chunks reassemble the text; prefix edit re-syncs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "wanders far away across the wide river into the deep dark woods " +
      "before returning home at dusk to sleep soundly until morning light"
    val docs = Seq((1L, base), (2L, "EDITPREFIX " + base), (3L, "tiny"))
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs).collect()
    // chunks of each doc cover the text exactly: contiguous, in order
    Seq(1L -> base, 2L -> ("EDITPREFIX " + base), 3L -> "tiny").foreach {
      case (id, txt) =>
        val spans = ch.filter(_.getLong(0) == id).sortBy(_.getInt(1))
          .map(r => (r.getInt(r.fieldIndex("chunk_start")),
            r.getInt(r.fieldIndex("n_chunk_chars"))))
        assert(spans.head._1 == 1, s"doc $id must start at 1")
        spans.sliding(2).foreach {
          case Array((s1, n1), (s2, _)) =>
            assert(s2 == s1 + n1, s"doc $id chunks not contiguous")
          case _ =>
        }
        assert(spans.map(_._2).sum == txt.length,
          s"doc $id chunks must cover the text")
    }
    // a doc shorter than k is one whole-doc chunk
    assert(ch.count(_.getLong(0) == 3L) == 1)
    // re-sync: the edited twin shares its suffix chunks with the base
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getString(4)).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getString(4)).toSet
    assert((h1 & h2).nonEmpty,
      "prefix edit must re-sync to shared chunks")
    val rep = Dedup.cdcDedupReport(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(1L).getLong(rep(1L).fieldIndex("n_shared_chunks")) > 0)
    assert(rep(3L).getLong(rep(3L).fieldIndex("n_shared_chunks")) == 0)
  }

  test("redactCreditCards: Luhn gate separates valid cards from lookalikes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay with 4111 1111 1111 1111 now"),
      (2L, "bad 4111 1111 1111 1112 here"),
      (3L, "two 4111111111111111 and 5500-0000-0000-0004 ok"),
      (4L, "none here, order 1234 is not a card")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactCreditCards(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = out(id).get(out(id).fieldIndex(c))
    assert(f(1L, "n_cc_candidates") == 1 && f(1L, "n_cc_valid") == 1)
    assert(f(1L, "redacted") == "pay with <CC> now")
    // a one-digit-off lookalike is a candidate but must NOT be redacted
    assert(f(2L, "n_cc_candidates") == 1 && f(2L, "n_cc_valid") == 0)
    assert(f(2L, "redacted") == "bad 4111 1111 1111 1112 here")
    // unspaced and dash-separated formats both validate
    assert(f(3L, "n_cc_candidates") == 2 && f(3L, "n_cc_valid") == 2)
    assert(f(3L, "redacted") == "two <CC> and <CC> ok")
    assert(f(4L, "n_cc_candidates") == 0 && f(4L, "n_cc_valid") == 0)
  }

  test("qwen2Pretokenize follows the reference tokenizer's split rules") {
    def toks(s: String): Seq[String] =
      textDf((0L, s)).select(TextAnalysis.qwen2Pretokenize(col("text")))
        .head().getSeq[String](0)
    // contractions split off; digits split SINGLY; punctuation keeps
    // its space prefix until the trim normalization strips it
    assert(toks("it's 42 + x") === Seq("it", "'s", "4", "2", "+", "x"))
    // case preserved (Qwen2 is case-sensitive); unicode letters are \p{L}
    assert(toks("SELECT Café") === Seq("SELECT", "Café"))
    // newlines and runs of spaces vanish under trim+filter; the
    // no-lookahead RE2 twin tokenizes these identically
    assert(toks("a\n\nb   c ") === Seq("a", "b", "c"))
    // contraction casing: (?i:) branch matches 'S too
    assert(toks("IT'S") === Seq("IT", "'S"))
    // punctuation runs stay joined, digit-letter boundaries split
    assert(toks("x>=10;") === Seq("x", ">=", "1", "0", ";"))
    // empty and whitespace-only inputs produce no tokens
    assert(toks("") === Seq.empty)
    assert(toks("  \n ") === Seq.empty)
  }

  test("minShingleFingerprint: short-text fallback and determinism") {
    val df = textDf((0L, "tiny"), (1L, "a longer document body"))
    val r = df.select(TextAnalysis.minShingleFingerprint(col("text")))
      .collect().map(_.getString(0))
    assert(r(0).length === 32) // md5 of whole text
    assert(r(1).length === 32)
    val again = df.select(TextAnalysis.minShingleFingerprint(col("text")))
      .collect().map(_.getString(0))
    assert(r.toSeq === again.toSeq)
  }

  // ------------------------------------------------------------ Dedup

  test("dropExactDuplicates keeps the minimum id per content") {
    val df = textDf((5L, "same"), (1L, "same"), (3L, "other"))
    val kept = Dedup.dropExactDuplicates(df).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("fixtureCorpusScaled: same doc sets as fixtureCorpus, ids disjoint at ANY base range") {
    import spark.implicits._
    // base ids deliberately straddle 10000 — the literal +10000/+20000
    // offsets of the gated fixtureCorpus COLLIDE here (the sf ≥ 1
    // corpus shape); the scaled twin must stay disjoint
    val docs = Seq((0L, "alpha bravo"), (5L, "charlie delta"),
      (7L, "echo foxtrot"), (9995L, "golf hotel"), (12600L, "india juliet"))
      .toDF("doc_id", "text")
    val scaled = Dedup.fixtureCorpusScaled(docs)
    // one row per id: no silent set-union under a shared id
    assert(scaled.count() === scaled.select("doc_id").distinct().count(),
      "scaled fixture must never reuse an id")
    // identical text multiset to the literal-offset form
    val texts = (df: org.apache.spark.sql.DataFrame) =>
      df.select("text").collect().map(_.getString(0)).sorted.toSeq
    assert(texts(scaled) === texts(Dedup.fixtureCorpus(docs)))
    // variants land strictly above the base id range
    val maxBase = 12600L
    val variantIds = scaled.filter(col("doc_id") > maxBase)
      .count()
    assert(variantIds === 7,
      "expected 4 near variants (ids %5==0) + 3 exact copies (ids %7==0)")
  }

  test("minHashLsh finds the same near-dup pairs as all-pairs Jaccard on the fixture") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val all = Dedup.jaccardPairs(Dedup.charShingles(corpus), 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(corpus, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(all), "LSH must never invent pairs")
    // 16 hashes / 4 bands at jaccard>=0.9 → near-certain recall on this corpus
    assert(lsh === all, s"LSH missed ${all -- lsh}")
    assert(all.nonEmpty)
  }

  test("row-local MinHash signatures are bit-identical to the grouped forms") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val sets = Dedup.shingleSets(corpus)
    val shingles = Dedup.charShingles(corpus)
    def rows(df: org.apache.spark.sql.DataFrame, by: String*) =
      df.orderBy("id", by: _*).collect().map(_.toSeq).toSeq
    // same hash, same set, same min — the PLAN is the only difference:
    // md5 through the native kernel's bands, xx through the folds
    assert(rows(Dedup.lshBuckets(Dedup.lshRows(Dedup.lshDocs(corpus), 4)), "band") ===
      rows(Dedup.lshBucketsWide(Dedup.minHashSignaturesWide(shingles)), "band"))
    assert(rows(Dedup.minHashSignaturesRowLocalXx(sets)) ===
      rows(Dedup.minHashSignaturesWideXx(shingles)))
    // and neither row-local pipeline rebuilds the verify sets with an
    // aggregate
    for (xx <- Seq(false, true)) {
      val plan = Dedup.minHashLshPairsRowLocal(corpus, 0.5, xx = xx)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("collect_list"),
        "row-local verify must not rebuild sets with collect_list:\n" +
          plan.take(800))
    }
  }

  test("xxhash64 MinHash family finds the same pairs as the md5 oracle twin") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val shingles = Dedup.charShingles(corpus)
    val md5Pairs = Dedup.minHashLshPairsFromShingles(shingles, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val xxPairs = Dedup.minHashLshPairsXxFromShingles(shingles, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // signature VALUES differ; verified pairs must not (same exact
    // verify kernel, equivalent banding recall on this corpus)
    assert(xxPairs === md5Pairs)
    assert(xxPairs.nonEmpty)
  }

  test("xxhash64 SimHash family: copies collide, near-dups stay close") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val hashes = Dedup.simHashXx(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // exact copies (id+20000) share the base doc's simhash exactly
    hashes.keys.filter(id => id < 10000 && id % 7 == 0).foreach { id =>
      assert(hashes(id + 20000) === hashes(id), s"copy of $id diverged")
    }
    // near-dup variants (id+10000, small tail appended) stay far below
    // the ~16 bits unrelated docs differ by; the exact bound is
    // hash-family-dependent (the md5 family keeps the fixture at ≤3,
    // this xx instantiation puts one pair at 4)
    hashes.keys.filter(id => id < 10000 && id % 5 == 0).foreach { id =>
      val d = java.lang.Long.bitCount(hashes(id) ^ hashes(id + 10000))
      assert(d <= 8, s"near-dup of $id at hamming $d")
    }
  }

  test("xxhash64 min-shingle fingerprint: deterministic, short-text fallback") {
    import spark.implicits._
    val df = Seq((1L, "tiny"), (2L, "a longer text with many shingles here"),
      (3L, "a longer text with many shingles here")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      TextAnalysis.minShingleFingerprintXx(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(2) === rows(3)) // identical text → identical fingerprint
    // short text hits the whole-text fallback (still a long)
    assert(rows.contains(1L))
  }

  test("capped jaccardPairs equals the uncapped all-pairs answer") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val sh = Dedup.charShingles(corpus)
    def pairs(cap: Int) = Dedup.jaccardPairs(sh, 0.5, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(Dedup.fixtureShingleDfCap)
    assert(uncapped.nonEmpty)
    assert(capped === uncapped,
      s"cap lost ${uncapped -- capped} / invented ${capped -- uncapped}")
  }

  test("cosineNearDupPairs (band-bucket candidates) equals all-pairs cosine") {
    val base = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 80)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("vec_id").as("id"), (col("pos") + 1).as("i"),
        round(col("e").cast("double") * 1e6).cast("long").as("e_micro"))
    val variants = base.filter(col("id") % 5 === 0)
      .select((col("id") + 10000).as("id"), col("i"),
        (col("e_micro") + lit(10000) * ((col("i") % 3) - 1)).as("e_micro"))
    val elems = base.unionByName(variants)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = toSet(Dedup.cosinePairsMicro(elems, 0.9))
    val lshDf = Dedup.cosineNearDupPairs(elems, 0.9)
    assert(all.nonEmpty)
    assert(toSet(lshDf) === all)
    // the candidate join must key on the LSH bucket, not the dim index
    val plan = lshDf.queryExecution.optimizedPlan.toString
    assert(plan.contains("bucket"), "expected band-bucket candidate join")
  }

  test("scaled sign-LSH params: default at small n, wider-banded at corpus scale; recall holds") {
    // the sizing rule itself
    assert(Dedup.scaledSignLshParams(2000L) === (4, 8))   // = the default
    assert(Dedup.scaledSignLshParams(20000L) === (8, 12)) // 8x less collision mass
    assert(Dedup.scaledSignLshParams(1L)._2 === 8)        // floor
    // recall contract at the wider setting: near-identical pairs (the
    // dedup target) are still all found — same fixture as the default
    // equality test above
    val base = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 80)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("vec_id").as("id"), (col("pos") + 1).as("i"),
        round(col("e").cast("double") * 1e6).cast("long").as("e_micro"))
    val variants = base.filter(col("id") % 5 === 0)
      .select((col("id") + 10000).as("id"), col("i"),
        (col("e_micro") + lit(10000) * ((col("i") % 3) - 1)).as("e_micro"))
    val elems = base.unionByName(variants)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = toSet(Dedup.cosinePairsMicro(elems, 0.9))
    assert(all.nonEmpty)
    assert(toSet(Dedup.cosineNearDupPairs(elems, 0.9, nBands = 8,
      bitsPerBand = 12)) === all)
    // DEFAULTS ARE CORPUS-SIZED (r7): the no-param call resolves its
    // (bands, bits) through autoSignLshParams and must equal the
    // explicitly-sized call — a caller taking defaults gets the sized
    // curve, never the r6-measured quadratic fixed-4×8 one
    val auto = Dedup.autoSignLshParams(elems)
    assert(auto === Dedup.scaledSignLshParams(
      elems.select("id").distinct().count()))
    assert(toSet(Dedup.cosineNearDupPairs(elems, 0.9)) ===
      toSet(Dedup.cosineNearDupPairs(elems, 0.9, auto._1, auto._2)))
    // auto-resolution departs from (4, 8) once the corpus outgrows the
    // 256-bucket bands — pinned on a synthetic 20k-id element frame
    val big = spark.range(20000).select(col("id"), lit(1L).as("i"),
      lit(0L).as("e_micro"))
    assert(Dedup.autoSignLshParams(big) === (8, 12))
  }

  test("simHashNearDups production entry == 64-bit banded pair search") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaEntry = toSet(Dedup.simHashNearDups(corpus))
    val composed = toSet(Dedup.simHashNearPairs64(Dedup.simHash64Xx(corpus)))
    assert(viaEntry.nonEmpty)
    assert(viaEntry === composed)
  }

  test("64-bit SimHash: pairs equal the brute-force hamming filter; copies collide") {
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val hashes = Dedup.simHash64Xx(corpus)
    val m = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact copies (id+20000) share the base doc's 64-bit simhash
    m.keys.filter(id => id < 10000 && id % 7 == 0).foreach { id =>
      assert(m(id + 20000) === m(id), s"copy of $id diverged")
    }
    // banded candidates + hamming verify == brute force over all pairs
    val brute = (for {
      a <- m.keys; b <- m.keys if a < b
      h = java.lang.Long.bitCount(m(a) ^ m(b)) if h <= 3
    } yield (a, b, h)).toSet
    val banded = Dedup.simHashNearPairs64(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture must contain hamming<=3 pairs")
    assert(banded === brute)
  }

  test("simHash: identical docs collide, near docs are close, pairs found") {
    val df = textDf(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different content about spark query engines"))
    val hashes = Dedup.simHash(df)
    val m = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) === m(1L))
    val nearHam = java.lang.Long.bitCount(m(0L) ^ m(2L))
    val farHam = java.lang.Long.bitCount(m(0L) ^ m(3L))
    assert(nearHam < farHam)
    val pairs = Dedup.simHashNearPairs(hashes, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  // ------------------------------------------------------- Similarity

  test("cosine float path agrees with exact micro-int path to 1e-6") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 20)
    val float = Similarity.cosineTopK(emb, emb.filter(col("vec_id") === 0), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val exact = Similarity.queries("ann_brute_force")(spark, sfSmoke)
      .filter(col("query_id") === 0).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    // same corpus subset only where both computed the neighbor
    for ((id, c) <- float; ce <- exact.get(id))
      assert(math.abs(c - ce) < 1e-6, s"neighbor $id: $c vs $ce")
  }

  test("lshTopK candidates are bucket-pruned true cosines") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 50)
    val q = emb.filter(col("vec_id") % 25 === 0)
    val res = Similarity.lshTopK(emb, q, 3, numPlanes = 4).collect()
    val brute = Similarity.cosineTopK(emb, q, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    res.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key))
      assert(math.abs(brute(key) - r.getDouble(3)) < 1e-12)
    }
  }

  test("ivfTopK searches only probed lists and ranks correctly") {
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 100)
    val centroids = emb.filter(col("vec_id") % 20 === 0)
    val assigned = Similarity.ivfAssign(emb, centroids)
    assert(assigned.count() === emb.count()) // every vector assigned once
    val q = emb.filter(col("vec_id") === 1)
    val res = Similarity.ivfTopK(assigned, centroids, q, 5, nprobe = 2)
      .orderBy("rank").collect()
    assert(res.nonEmpty)
    // ranks are 1..n with non-increasing cosine
    val cosines = res.map(_.getDouble(3))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    assert(res.map(_.getInt(2)).toSeq === (1 to res.length))
  }

  test("trained IVF centroids: deterministic k-means, assignment is argmax cosine") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.load(spark, sfSmoke, "embeddings")
      .filter(col("vec_id") < 150)
    val cents = Similarity.trainCentroids(emb, k = 4)
    assert(cents.count() === 4L)
    // fixed (data, seed) → identical codebook on a second fit
    val again = Similarity.trainCentroids(emb, k = 4)
    assert(cents.collect().map(_.toString).sorted
      === again.collect().map(_.toString).sorted,
      "k-means with a fixed seed must reproduce the same centroids")
    // spec-pin vs the float path: every assignment is the true
    // argmax-cosine centroid (same centroid_id tie-break)
    val assigned = Similarity.ivfAssign(emb, cents)
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = cents.select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val brute = emb.crossJoin(broadcast(c))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cemb")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned === brute,
      "ivfAssign over trained centroids must match brute-force argmax")
    // the trained codebook drives the full probe path end-to-end
    val res = Similarity.ivfTopK(Similarity.ivfAssign(emb, cents), cents,
      emb.filter(col("vec_id") === 1), 5, nprobe = 2)
      .orderBy("rank").collect()
    assert(res.nonEmpty)
    val cosines = res.map(_.getDouble(3))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  // ------------------------------------------------------- Multimodal

  test("recallAtK: per-query hit counts against the exact ranking") {
    import spark.implicits._
    val exact = Seq( // two queries, top-3 each
      (10L, 1L, 1), (10L, 2L, 2), (10L, 3L, 3),
      (20L, 4L, 1), (20L, 5L, 2), (20L, 6L, 3)
    ).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq( // q10 found 2 of 3 (+1 spurious); q20 found none
      (10L, 1L), (10L, 3L), (10L, 99L),
      (20L, 98L)
    ).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3))).toMap
    assert(r(10L) == ((2L, 3L, 2.0 / 3.0)))
    assert(r(20L) == ((0L, 3L, 0.0)))
  }

  test("multimodal: stub decode, batched features, frame sampling") {
    implicit val sp: SparkSession = spark
    val docs = graft.Tables.load(spark, sfSmoke, "documents")
      .filter(col("doc_id") < 30)
    val media = Multimodal.synthesizeMedia(docs)
    val feats = Multimodal.extractFeatures(media, batchSize = 7).collect()
    assert(feats.length === docs.count())
    feats.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.mean_byte > 0 && f.mean_byte < 256)
      if (f.kind == "audio") assert(f.width === 0)
      else assert(f.width >= 16)
    }
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty)
    // stride-2 sampling keeps only even frame indices
    assert(frames.forall(_.frame_index % 2 == 0))
    // resize stub rewrites metadata only
    val row = media.head()
    val resized = Multimodal.MediaCodec.resizeStub(row, 32, 32)
    assert(resized.meta.width === 32 && resized.meta.height === 32)
    assert(resized.bytes.sameElements(row.bytes))
  }

  test("fixture queries return rows on sf0.001") {
    val names = TextAnalysis.queries.keys ++ Dedup.queries.keys ++
      Similarity.queries.keys ++ Multimodal.queries.keys
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfSmoke)
      assert(df.count() > 0, s"query $name returned no rows")
    }
  }

  test("nearDupClusters equals a union-find over the same pairs; keepOne filters") {
    import spark.implicits._
    val corpus = Dedup.fixtureCorpus(
      graft.Tables.load(spark, sfSmoke, "documents").filter(col("doc_id") < 60))
    val pairs = Dedup.minHashLshPairs(corpus, 0.5)
    val edges = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)

    // brute-force union-find on the driver as the independent answer
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap

    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)

    // transitivity materialized: a base doc, its near-dup tail and its
    // exact copy connect through the base even without a direct pair —
    // every doc divisible by 35 has both companions in the fixture
    val tripleBases = got.keys.filter(id => id < 10000 && id % 35 == 0)
    tripleBases.foreach { d =>
      assert(got.get(d + 10000).contains(got(d)), s"near-dup of $d")
      assert(got.get(d + 20000).contains(got(d)), s"copy of $d")
    }

    // keepOnePerCluster: exactly one survivor per cluster, pass-through
    // for unpaired docs
    val kept = Dedup.keepOnePerCluster(corpus, Dedup.nearDupClusters(pairs))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val clustered = got.keys.toSet
    assert(keptIds.intersect(clustered) === got.values.toSet,
      "survivors inside the graph must be exactly the cluster labels")
    val all = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((all -- clustered).subsetOf(keptIds), "unpaired docs pass through")
  }

  // ------------------------------------------------- chunking / LM / semdedup

  test("chunkDocs: overlap windows cover every token, tail kept, empty dropped") {
    val df = textDf(
      (0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (1L, "a b"),
      (2L, "   "))
    val rows = TextAnalysis.chunkDocs(df, 4, 3)
      .orderBy("doc_id", "chunk_id").collect()
    val d0 = rows.filter(_.getLong(0) == 0L)
    // starts 0,3,6,9 → windows of 4,4,4,1 tokens
    assert(d0.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(d0.map(_.getLong(2)).toSeq === Seq(0L, 3L, 6L, 9L))
    assert(d0.map(_.getLong(3)).toSeq === Seq(4L, 4L, 4L, 1L))
    assert(d0.map(_.getString(4)).toSeq === Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"))
    // consecutive windows overlap by chunk − stride = 1 token
    d0.sliding(2).foreach { case Array(a, b) =>
      assert(a.getString(4).split(" ").last === b.getString(4).split(" ").head)
    }
    // short doc → one window; whitespace-only doc → no window
    assert(rows.filter(_.getLong(0) == 1L).map(_.getString(4)).toSeq === Seq("a b"))
    assert(!rows.exists(_.getLong(0) == 2L))
  }

  test("lmScore: mean MLE bigram probability in exact micro-int arithmetic") {
    val df = textDf((0L, "a b a b"), (1L, "a c"), (2L, "solo"))
    val got = TextAnalysis.lmScore(df).orderBy("doc_id").collect()
    // corpus bigrams: "a b"×2, "b a"×1, "a c"×1 → c(a·)=3, c(b·)=1
    // p_micro: "a b" = 2000000 div 3 = 666666; "b a" = 1000000; "a c" = 333333
    assert(got(0).getLong(1) === 3L)
    assert(got(0).getLong(2) === 2 * 666666L + 1000000L)
    assert(math.abs(got(0).getDouble(3) - (2333332.0 / 3 / 1e6)) < 1e-12)
    assert(got(1).getLong(1) === 1L)
    assert(got(1).getLong(2) === 333333L)
    // a doc with no bigram has zero counts and a null score
    assert(got(2).getLong(1) === 0L && got(2).getLong(2) === 0L)
    assert(got(2).isNullAt(3))
  }

  test("trainBpeMerges matches a driver-side reference BPE trainer") {
    // reference implementation: greedy left-to-right merge application
    // over an in-memory word-count map, most-frequent pair first, ties
    // to the lexicographically smallest pair
    def refMerge(s: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    val corpus = Seq((0L, "low lower lowest low low"),
      (1L, "new newer newest new"), (2L, "low new low"))
    var refWc: Map[Vector[String], Long] = corpus
      .flatMap(_._2.split("\\s+")).groupBy(identity)
      .map { case (w, ws) => w.split("").toVector -> ws.size.toLong }
    val refMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to 5) {
      val pairs = refWc.toSeq.flatMap { case (s, c) =>
        s.zip(s.tail).map(p => (p._1, p._2) -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (pairs.nonEmpty) {
        val ((a, b), n) = pairs.toSeq
          .minBy { case ((a, b), n) => (-n, a + " " + b) }
        refMerges += ((a, b, n))
        refWc = refWc.toSeq.map { case (s, c) => refMerge(s, a, b) -> c }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      }
    }
    val got = TextAnalysis.trainBpeMerges(textDf(corpus: _*), 5)
    assert(got === refMerges.toSeq)
    assert(got.nonEmpty && got.head._3 >= got.last._3,
      "merge counts are non-increasing on this fixture")
  }

  test("applyBpeMerge is greedy left-to-right non-overlapping") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq("a", "a", "a")), Tuple1(Seq("a", "b", "b")),
      Tuple1(Seq("b", "a", "b", "a", "b"))).toDF("s")
    val aa = df.select(TextAnalysis.applyBpeMerge(col("s"), "a", "a"))
      .collect().map(_.getSeq[String](0).toList)
    assert(aa.toList === List(List("aa", "a"), List("a", "b", "b"),
      List("b", "a", "b", "a", "b")))
    val ab = df.select(TextAnalysis.applyBpeMerge(col("s"), "a", "b"))
      .collect().map(_.getSeq[String](0).toList)
    assert(ab.toList === List(List("a", "a", "a"), List("ab", "b"),
      List("b", "ab", "ab")))
  }

  test("sourceDivergence: TV is 0 for identical, 1 for disjoint distributions") {
    import spark.implicits._
    val df = Seq(
      ("s1", "a b c a"), ("s2", "a b c a"),    // identical distributions
      ("s3", "x y z")                           // disjoint from both
    ).toDF("source", "text")
    val got = TextAnalysis.sourceDivergence(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(got(("s1", "s2")) === 0.0)
    assert(got(("s1", "s3")) === 1.0)
    assert(got(("s2", "s3")) === 1.0)
  }

  test("count-min heavy hitters: sketch over-counts by at most eps*N") {
    val df = textDf((0L, "x x x y y z"), (1L, "x y q r s t u v w"))
    val tok = df.select(explode(
      TextAnalysis.tokensWs(lower(col("text")))).as("token"))
    val (cms, total) = TextAnalysis.countMinSketchOf(tok, "token")
    assert(total === 15L)
    val exact = tok.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val e = cms.estimateCount(t)
      assert(e >= n && e <= n + math.ceil(0.001 * total).toLong,
        s"estimate $e outside [${n}, n+eps*N] for '$t'")
    }
  }

  test("semanticDedup: within-cluster near-dups drop keep-first; distinct vectors survive") {
    import spark.implicits._
    def axis(i: Int, eps: Double = 0.0): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(i) = 1.0f
      if (eps != 0.0) a((i + 1) % 4) = eps.toFloat
      a
    }
    val corpus = Seq(
      (1L, axis(0)), (2L, axis(1)),          // cluster seeds
      (3L, axis(0, 0.05)), (4L, axis(1, 0.05)), // near-dups of 1 and 2
      (5L, axis(2))                           // far from everything
    ).toDF("vec_id", "embedding")
    val centroids = Seq((0L, axis(0)), (1L, axis(1)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(corpus, centroids, 0.95)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true))
    // candidate generation is an equi-join on centroid_id — never a
    // cartesian pair enumeration
    val plan = Similarity.semanticDedup(corpus, centroids, 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no all-pairs plan")
  }

  test("pqSearch: trained codebooks are deterministic and find cluster-mates") {
    import spark.implicits._
    def vec(c: Int, jit: Double): Array[Float] =
      Array.tabulate(64)(i =>
        (if (i % 8 == c) 1.0 else 0.0) +
          jit * (((i * 7 + c) % 5) - 2) * 0.01).map(_.toFloat)
    val rows = for (c <- 0 until 3; j <- 0 until 8)
      yield ((c * 100 + j).toLong, vec(c, j * 0.1))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 100 === 0)
    def run() = Similarity.pqSearch(corpus, queries, k = 3, m = 4,
        kCodes = 4).orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val r1 = run()
    assert(r1.length === 9)
    // ADC neighbors come from the query's own cluster — quantized
    // distances must still separate well-separated clusters
    r1.foreach { case (q, n, _) => assert(q / 100 === n / 100,
      s"query $q got cross-cluster neighbor $n") }
    assert(r1.toSeq === run().toSeq, "PQ search must be deterministic")
  }

  test("trainPqCodebooks: hash-capped sample path is deterministic and full-shape") {
    import spark.implicits._
    // 9000 vectors > the 4096 cap — the deterministic xxhash64 sample
    // and the concurrent per-subspace fits are both on this path
    val corpus = spark.range(9000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> cast(sin(id * 0.7 + i) as double))")
        .as("embedding"))
    def run() = Similarity.trainPqCodebooks(corpus, m = 4, k = 8)
      .orderBy("sub", "code").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val cb = run()
    assert(cb.length === 4 * 8, "k codewords per subspace")
    assert(cb.map(_._1).distinct.sorted.toSeq === Seq(0, 1, 2, 3))
    cb.foreach { case (_, _, e) => assert(e.length === 16) }
    assert(cb.toSeq === run().toSeq,
      "sampled codebook training must be reproducible")
  }

  test("bpeEncode: corpus token counts match a driver-side reference encoder") {
    def refMerge(s: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    val corpus = Seq((0L, "low lower lowest low low"),
      (1L, "new newer newest new"), (2L, "low new low"))
    val merges = TextAnalysis.trainBpeMerges(textDf(corpus: _*), 4)
      .map(m => (m._1, m._2))
    def refEncode(w: String): Int =
      merges.foldLeft(w.split("").toVector) {
        case (s, (a, b)) => refMerge(s, a, b)
      }.length
    val expected = corpus.map { case (id, text) =>
      val ws = text.split("\\s+").toSeq
      (id, ws.length.toLong, ws.map(refEncode(_).toLong).sum)
    }
    val got = TextAnalysis.bpeEncode(textDf(corpus: _*), merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
    // merges compress: bpe tokens strictly fewer than characters
    val nChars = corpus.map(_._2.replace(" ", "").length.toLong).sum
    assert(got.map(_._3).sum < nChars)
  }

  test("urlExtract finds urls in order; domainFilter drops blocked docs") {
    val df = textDf(
      (1L, "plain text no links"),
      (2L, "go to https://a.example.com/x then http://b.example.net"),
      (3L, "bad http://spam.example.org/y site"))
    val urls = TextAnalysis.urlExtract(df).orderBy("doc_id", "url_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(urls.toSeq === Seq((2L, 1, "a.example.com"),
      (2L, 2, "b.example.net"), (3L, 1, "spam.example.org")))
    val kept = TextAnalysis.domainFilter(df, Seq("spam.example.org"))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(1L, 2L))
  }

  test("standing cosine index: probe equals whole-frame cross pairs; stored side unshuffled") {
    import spark.implicits._
    def vec(seed: Int): Array[Long] =
      Array.tabulate(8)(i => (((seed * 31 + i * 17) % 2001) - 1000).toLong * 1000L)
    val old = Seq(1L -> vec(1), 2L -> vec(2), 3L -> vec(3))
    val batch = Seq(10L -> vec(1).map(_ + 5L), 11L -> vec(9))
    def elems(rows: Seq[(Long, Array[Long])]) =
      rows.flatMap { case (id, v) =>
        v.zipWithIndex.map { case (e, i) => (id, (i + 1).toLong, e) }
      }.toDF("id", "i", "e_micro")
    Dedup.writeCosineIndex(elems(old), "cos_idx_t",
      nBands = 4, bitsPerBand = 8, dims = 8, numBuckets = 8)
    // parameters are pinned at index time and read back by the probe
    val meta = spark.table("cos_idx_t_meta").head()
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) === ((4, 8, 8)))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIndex = toSet(Dedup.cosineNearDupPairsFromIndex("cos_idx_t",
      elems(batch), 0.9).select("id_a", "id_b"))
    // == the whole-frame pair search restricted to old×batch pairs
    // (old ids < 10 ≤ batch ids, and pairs are emitted id_a < id_b)
    val direct = toSet(Dedup.cosineNearDupPairs(elems(old ++ batch), 0.9,
        nBands = 4, bitsPerBand = 8, dims = 8)
      .filter(col("id_a") < 10 && col("id_b") >= 10)
      .select("id_a", "id_b"))
    assert(viaIndex === direct)
    // and == the table-free direct incremental path (the gated
    // dedup_embedding_incremental shape)
    assert(viaIndex === toSet(Dedup.incrementalCosinePairs(elems(old),
      elems(batch), 0.9, nBands = 4, bitsPerBand = 8, dims = 8)
      .select("id_a", "id_b")))
    assert(viaIndex.contains((1L, 10L)), "near-copy of doc 1 must be found")
    assert(!viaIndex.exists { case (a, b) => a >= 10 || b < 10 },
      "probe must emit strictly old×new pairs")
    // the candidate join must read the stored buckets bucket-aligned:
    // with broadcast off, the only join-key hash exchange is the
    // batch side's (the writeDedupIndex single-exchange contract)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val stored = spark.table("cos_idx_t_buckets")
      val nb = Dedup.signBandBuckets(elems(batch), 4, 8, dims = 8)
      val joined = stored.as("a").join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      val plan = joined.queryExecution.executedPlan.toString
      val nJoinKeyExchanges = "Exchange hashpartitioning\\(band".r
        .findAllIn(plan).length
      assert(nJoinKeyExchanges === 1,
        s"expected only the batch-side join exchange, got $nJoinKeyExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"stored side must scan bucketed:\n$plan")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("standing dedup index: probe equals direct incremental; stored side unshuffled") {
    val mk = (s: String) => s + " lorem ipsum dolor sit amet common pad"
    val old = textDf(
      (1L, mk("alpha bravo charlie delta echo foxtrot")),
      (3L, mk("zulu yankee xray whiskey victor uniform")))
    val batch = textDf(
      (10L, mk("alpha bravo charlie delta echo foxtrot")),
      (11L, mk("golf hotel india juliett kilo lima")))
    Dedup.writeDedupIndex(old, "dedup_idx_t", numBuckets = 8)
    val viaIndex = Dedup.incrementalLshPairsFromIndex("dedup_idx_t",
        batch, 0.5).orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val direct = Dedup.incrementalLshPairs(old, batch, 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(viaIndex.toSeq === direct.toSeq)
    assert(viaIndex.toSeq === Seq((1L, 10L)))
    // the candidate join must read the stored buckets bucket-aligned:
    // with broadcast off, the ONLY hash exchange under the join is the
    // batch side — the stored scan's bucketing satisfies its half of
    // the join distribution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val stored = spark.table("dedup_idx_t_buckets")
      val nb = Dedup.lshBucketsWide(Dedup.minHashSignaturesWide(
        Dedup.charShingles(batch)))
      val joined = stored.as("a").join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      val plan = joined.queryExecution.executedPlan.toString
      // exchanges partitioned on the JOIN key (band, ...): exactly the
      // batch side's — the batch's internal signature groupBy
      // exchanges on id and doesn't count
      val nJoinKeyExchanges = "Exchange hashpartitioning\\(band".r
        .findAllIn(plan).length
      assert(nJoinKeyExchanges === 1,
        s"expected only the batch-side join exchange, got $nJoinKeyExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"stored side must scan bucketed:\n$plan")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  // ------------------------------- duplicated-substring spans (Lee et al.)

  test("duplicated substring spans: cross-doc, within-doc, full-copy") {
    val corpus = textDf(
      (1L, "a b c d e f"),          // keeper of everything it contains
      (2L, "x y a b c d q"),        // shares "a b c d" with doc 1
      (3L, "a b c d e f"),          // verbatim copy of doc 1
      (4L, "p q r"),                // its single gram occurs once
      (5L, "m n o z m n o"))        // within-doc repeat of "m n o"
    val stats = Dedup.substringSpanStats(corpus, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.toSeq === Seq(
      (2L, 1L, 4L, 7L),   // tokens 3..6 covered
      (3L, 1L, 6L, 6L),   // fully covered
      (5L, 1L, 3L, 7L))) // second "m n o" at tokens 5..7
    val cleaned = Dedup.removeDuplicatedSpans(corpus, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // doc 3 (fully covered) is dropped entirely
    assert(cleaned.toSeq === Seq(
      (1L, "a b c d e f"), (2L, "x y q"), (4L, "p q r"),
      (5L, "m n o z")))
  }

  test("substring spans merge overlapping and adjacent ranges") {
    // doc 2 repeats doc 1's six tokens twice back to back: occurrences
    // at every start merge into ONE span covering the whole doc
    val corpus = textDf(
      (1L, "a b c d e f"),
      (2L, "a b c d e f a b c d e f"))
    val stats = Dedup.substringSpanStats(corpus, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.toSeq === Seq((2L, 1L, 12L)))
  }

  // --------------------------------- incremental batch-vs-corpus dedup

  test("incrementalLshPairs reports only old×new pairs") {
    val mk = (s: String) => s + " lorem ipsum dolor sit amet common pad"
    val old = textDf(
      (1L, mk("alpha bravo charlie delta echo foxtrot")),
      (2L, mk("alpha bravo charlie delta echo foxtrot")), // old dup of 1
      (3L, mk("zulu yankee xray whiskey victor uniform")))
    val batch = textDf(
      (10L, mk("alpha bravo charlie delta echo foxtrot")), // copy of 1 and 2
      (11L, mk("golf hotel india juliett kilo lima")),     // fresh
      (12L, mk("alpha bravo charlie delta echo foxtrot"))) // copy of 10
    val got = Dedup.incrementalLshPairs(old, batch, 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // old-old (1,2) and new-new (10,12) are never reported; exact
    // copies are found with certainty (identical signatures)
    assert(got.toSeq === Seq((1L, 10L), (1L, 12L), (2L, 10L), (2L, 12L)))
  }

  // ------------------------------------------- containment similarity

  test("containmentPairs finds a quote invisible to Jaccard") {
    val long = "the quick brown fox jumps over the lazy dog while " +
      "seventeen librarians catalogue ancient manuscripts under " +
      "flickering gaslight in the basement archive of the old city"
    val quote = long.take(40) // shingle subset of `long`
    val other = "completely unrelated text about submarine navigation " +
      "through arctic waters and the crews long winter routines"
    val df = textDf((1L, long), (2L, quote), (3L, other))
    val cont = Dedup.containmentPairs(Dedup.charShingles(df), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.map(t => (t._1, t._2)).toSeq === Seq((1L, 2L)))
    assert(cont.head._3 === 1.0, "a verbatim prefix is fully contained")
    // the same pair is invisible to symmetric Jaccard at any near-dup
    // threshold: |quote shingles| / |long shingles| ~ 0.2
    val jac = Dedup.jaccardPairs(Dedup.charShingles(df), 0.5)
      .collect()
    assert(jac.isEmpty, "Jaccard must miss the asymmetric pair")
  }

  // ---------------------------------------------- winnowing guarantee

  test("winnowing: shared substrings >= w+k-1 chars produce a common fingerprint") {
    val shared = "this exact passage is quoted verbatim by both documents"
    val a = "first document leading content " + shared + " and a first tail"
    val b = "second doc other prefix text -- " + shared + " -- second tail"
    val c = "zero overlap here: submarine arctic navigation routines"
    val fps = TextAnalysis.winnowedFingerprints(textDf(
        (1L, a), (2L, b), (3L, c)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the SIGMOD 2003 guarantee: any match of length >= w+k-1 (16
    // chars here) is caught — `shared` is 50+ chars
    assert((fps(1L) & fps(2L)).nonEmpty, "shared passage must be caught")
    assert((fps(1L) & fps(3L)).isEmpty, "no 9-gram overlap -> no common fp")
    // density: winnowing samples far fewer fingerprints than one per
    // position, but more than the single global min
    assert(fps(1L).size > 1 && fps(1L).size < a.length - 8)
  }

  // ------------------------------------------------------ Gopher rules

  test("gopher rules flag each planted defect independently") {
    val goodWords = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the and of that be" // 65 words, stopwords present
    val df = textDf(
      (0L, goodWords),
      (1L, "too short to pass the word count rule and that is that"),
      (2L, goodWords + " ### ### ### ### ### ### ###"), // symbol-heavy
      (3L, "the and\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),
      (4L, goodWords.split(" ").map(_ + "...").mkString("\n")))
    val cols = TextAnalysis.gopherRuleColumns(col("text"))
      .map { case (n, c) => c.as(n) }
    val got = df.select((col("doc_id") +: cols): _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    def b(id: Long, name: String): Boolean =
      got(id).getBoolean(got(id).fieldIndex(name))
    assert(b(0L, "pass_gopher"), "clean doc passes every rule")
    assert(!b(1L, "rule_word_count") && !b(1L, "pass_gopher"))
    assert(b(0L, "rule_symbol_ratio") && !b(2L, "rule_symbol_ratio"))
    assert(!b(3L, "rule_bullet_lines"), "10/11 bullet lines exceeds 0.9")
    assert(!b(4L, "rule_ellipsis_lines"), "every line ends in ellipsis")
    assert(b(0L, "rule_stopwords") && b(0L, "rule_alpha_words"))
  }

  // -------------------------------------------- quality-ranked keeper

  test("keepBestPerCluster keeps the best member, min id only on ties") {
    import spark.implicits._
    // the LOWER id is the junk variant — min-id election would keep it
    val docs = textDf(
      (1L, "the quick brown fox jumps over the lazy dog here !!!!!!!!!!!!"),
      (2L, "the quick brown fox jumps over the lazy dog here today fine"),
      (3L, "unrelated content entirely on its own standing apart"),
      (4L, "twin copy text body"), (5L, "twin copy text body"))
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster_id")
    val kept = Dedup.keepBestPerCluster(docs, clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L),
      s"quality keeper: got $kept (2 beats 1 on quality, 4 beats 5 on id)")
  }

  // ------------------------------------------------- source entropy

  test("sourceEntropy: uniform tokens hit ln(n), constant token hits 0") {
    import spark.implicits._
    val docs = Seq(
      ("uni", "a b c d"),      // 4 distinct, uniform → H = ln 4
      ("mono", "x x x x x x")  // one repeated token → H = 0
    ).toDF("source", "text")
    val m = TextAnalysis.sourceEntropy(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    def g(s: String, n: String) = m(s).getLong(m(s).fieldIndex(n))
    assert(g("mono", "entropy_bp") == 0L)
    assert(g("uni", "entropy_bp") == math.round(math.log(4.0) * 1e4))
    assert(g("uni", "n_tokens") == 4L && g("uni", "n_distinct") == 4L)
    assert(g("mono", "n_tokens") == 6L && g("mono", "n_distinct") == 1L)
  }

  // ----------------------------------------------- random projection

  test("randomProject: float path equals the exact sign-join form on ints") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 3.0f, 0.0f)),
      (2L, Array(4.0f, 5.0f, -6.0f, 7.0f))).toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(vecs, dIn = 4, dOut = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // independent exact twin: same md5-derived signs, integer sums
    val elems = vecs
      .select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("id"), (col("pos") + 1).as("i"),
        col("e").cast("long").as("e_int"))
    val signs = spark.range(1, 5).toDF("i")
      .select(col("i"), explode(sequence(lit(1), lit(3))).as("j"))
      .select(col("i"), col("j"),
        when(Dedup.md5Long(concat(col("j").cast("string"), lit(":"),
          col("i").cast("string"))) % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("s"))
    val exact = elems.join(signs, "i").groupBy("id", "j")
      .agg(sum(col("e_int") * col("s")).as("y")).collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        r.getInt(r.fieldIndex("j"))) -> r.getLong(r.fieldIndex("y"))).toMap
    for (id <- Seq(1L, 2L); j <- 1 to 3)
      assert(proj(id)(j - 1) == exact((id, j)).toDouble,
        s"id=$id j=$j: ${proj(id)(j - 1)} vs ${exact((id, j))}")
    // signs are balanced enough to produce a non-trivial projection
    assert(proj(1L).exists(_ != 0.0))
  }

  // --------------------------------------------------- bloom probing

  test("bloomProbeDedup equals exact dedup and prunes non-members map-only") {
    val corpus = textDf((1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"), (3L, "eta theta iota"))
    val batch = textDf((10L, "alpha beta gamma"),
      (11L, "totally fresh content"), (12L, "delta epsilon zeta"),
      (13L, "another unseen doc"))
    val got = Dedup.bloomProbeDedup(corpus, batch, 100L, 4096L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(10L -> true, 11L -> false, 12L -> true, 13L -> false))
    // the sketch actually prunes: a rejected row never reaches the
    // exact-verify join (4096 bits over 3 items ⇒ fp ≈ 0)
    val bloom = Dedup.bloomBytesFor(corpus, 100L, 4096L)
    val flagged = batch.filter(graft.functions.BloomSketch
      .mightContain(bloom, xxhash64(col("text")))).count()
    assert(flagged >= 2 && flagged < 4,
      s"fresh docs should be bloom-rejected, flagged=$flagged")
  }

  // ---------------------------------------------- HTML / C4 cleaning

  test("htmlToText strips blocks/tags, decodes entities, keeps breaks") {
    val html = "<html><head><title>T</title>" +
      "<script>if (1 < 2) { alert(\"x\"); }</script></head>" +
      "<body><p>First para.</p><p>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot;" +
      "</p><!-- gone --><ul><li>item</li></ul>plain</body></html>"
    val got = textDf((0L, "x"))
      .select(TextAnalysis.htmlToText(lit(html))).head().getString(0)
    assert(got == "First para.\nTom & Jerry <3 \"q\"\nitem\nplain")
    // head content (incl. title) never leaks; script's raw < is gone
    assert(!got.contains("T\n") && !got.contains("alert"))
    // entity decode is single-pass: &amp;lt; stays literal &lt;
    val dbl = textDf((0L, "x"))
      .select(TextAnalysis.htmlToText(lit("<p>a &amp;lt; b</p>")))
      .head().getString(0)
    assert(dbl == "a &lt; b")
  }

  test("c4LineFilter keeps sentence lines, drops boilerplate, flags pages") {
    val docs = textDf(
      (0L, "A fine long sentence with enough words here.\nshort one.\n" +
        "no terminal punctuation even with many words here\n" +
        "Another proper sentence that should also stay intact.\n" +
        "Please enable javascript to view this page properly."),
      (1L, "Lorem ipsum dolor sit amet consectetur adipiscing elit.\n" +
        "This page discusses our privacy policy in great detail."),
      (2L, "var f = function() { return 1; }"))
    val out = TextAnalysis.c4LineFilter(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, n: String) = out(id).get(out(id).fieldIndex(n))
    assert(f(0L, "n_lines") == 5L && f(0L, "n_kept") == 2L)
    assert(f(0L, "text_clean") ==
      "A fine long sentence with enough words here.\n" +
      "Another proper sentence that should also stay intact.")
    // lorem line passes the LINE rules but flags the PAGE
    assert(f(1L, "n_kept") == 1L && f(1L, "has_lorem") == true)
    assert(f(1L, "pass_c4") == false)
    assert(f(2L, "n_kept") == 0L && f(2L, "has_brace") == true)
  }

  test("pmiBigrams: floor respected, attraction beats repulsion, crafted pin") {
    import spark.implicits._
    // 'x y' always adjacent (PMI >> 0); 'x z' co-occur never adjacent
    val docs = (0 until 10).map(i => (i.toLong, "x y p" + i + " q" + i))
      .toDF("doc_id", "text")
    val r = TextAnalysis.pmiBigrams(docs, minCount = 5).collect()
    assert(r.forall(_.getLong(2) >= 5), "count floor must hold")
    val xy = r.find(row => row.getString(0) == "x" && row.getString(1) == "y")
    assert(xy.nonEmpty, "the always-adjacent pair must survive the floor")
    // PMI(x,y) = ln(10·30/(10·10)) = ln 3 > 0
    assert(xy.get.getLong(xy.get.fieldIndex("pmi_micro")) == 1098612L,
      "PMI must be ln(c12·T/(c1·c2)) in micro units")
  }

  test("lshBandingPlan: S-curve thresholds are monotone in b, 4x4 gives 0.707") {
    val rows = Dedup.lshBandingPlan(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L),
      "every divisor factorization of 16 must appear")
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.reverse.toSeq,
      "more bands => lower collision threshold")
    val b4 = rows.find(_._1 == 4L).get
    assert(b4._3 == 707107L, "(1/4)^(1/4) = 0.707107 in micro units")
  }

  test("fertility: BPE-ish units never undercount whitespace words") {
    val df = Tables.load(spark, sfCorrect, "documents")
    val r = df.groupBy("lang")
      .agg(sum(TextAnalysis.tokenCountWs(col("text"))).as("ws"),
        sum(TextAnalysis.tokenCountBpe(col("text"))).as("bpe"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(row.fieldIndex("bpe")) >=
        row.getLong(row.fieldIndex("ws")),
        "a BPE-ish pre-tokenization splits at least every whitespace word")
    }
  }
}
