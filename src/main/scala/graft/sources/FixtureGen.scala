package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture up-scaler for the scaling-curve evidence.
  *
  * The driver ships sf0.001/sf0.01/sf0.1 fixtures (TESTDATA.md,
  * read-only) — one decade short of the 100× step the 100 TB claims
  * rest on. This generator bootstraps an arbitrary-scale `documents` /
  * `embeddings` pair from the EMPIRICAL distributions of a shipped
  * fixture dir (unigram frequencies, length histogram, lang/source
  * mix, Gaussian-unit-vector embeddings), so the `bench_*` full-corpus
  * families can be measured at sf1 (= 10× sf0.1) and beyond on
  * statistically like-for-like data.
  *
  * Design notes (the generator itself must survive its own scale-up):
  *  - generation is fully distributed: `spark.range(n)` partitions the
  *    id space; every attribute of a row is a pure function of
  *    (seed, id) through xxhash64 — no driver loop, no rand(), no
  *    shuffle at all (the only collects are the metadata-scale
  *    distribution extractions: ~31 vocab rows, 5 langs, 20 sources,
  *    91 length buckets from the source fixture);
  *  - sampling uses 4096-slot largest-remainder alias tables shipped
  *    as array literals — `element_at(lit(table), pmod(hash, slots))`
  *    is O(1) per draw and stays inside whole-stage codegen (no
  *    per-element inverse-CDF search, no UDF);
  *  - duplicate discipline matches the shipped fixtures: the raw
  *    corpus contains no exact duplicates (dedup fixtures synthesize
  *    their own variants in-query), which the generated id-salted hash
  *    stream preserves with overwhelming probability (≥10 draws from a
  *    31-word vocabulary per doc).
  */
object FixtureGen {

  /** Largest-remainder allocation of `slots` alias slots over weighted
    * values — sampling by uniform slot index then reproduces the
    * weights to within 1/slots. */
  private[sources] def aliasSlots[T](weights: Seq[(T, Long)], slots: Int)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    require(weights.nonEmpty, "empty weight table")
    val total = weights.map(_._2).sum.toDouble
    val exact = weights.map { case (v, w) => (v, w * slots / total) }
    val floors = exact.map { case (v, e) => (v, e.toInt) }
    var used = floors.map(_._2).sum
    // hand the remaining slots to the largest fractional remainders,
    // ties broken by the (stable) input order for determinism
    val byRemainder = exact.zip(floors).map { case ((v, e), (_, f)) => (v, e - f) }
      .sortBy(-_._2)
    val bonus = scala.collection.mutable.Map.empty[T, Int]
    var i = 0
    while (used < slots) {
      val v = byRemainder(i % byRemainder.size)._1
      bonus(v) = bonus.getOrElse(v, 0) + 1
      used += 1; i += 1
    }
    floors.flatMap { case (v, f) =>
      Seq.fill(f + bonus.getOrElse(v, 0))(v)
    }.toArray
  }

  private val Slots = 4096

  /** The distinct values of `cols` in `df` (a table of `srcDir`) with
    * their row counts — rows (cols..., count) in `cols` order — for an
    * alias table or a value list. More than [[Slots]] distinct values
    * fail fast: an alias table of Slots slots cannot hold them. The
    * orderBy stays in the plan, so the bounded collect plans one
    * TakeOrderedAndProject and keeps Spark's sort order. */
  private def valueCounts(df: DataFrame, srcDir: String,
      cols: String*): Array[org.apache.spark.sql.Row] =
    graft.Collect.collectBounded(
      df.groupBy(cols.map(col): _*).count().orderBy(cols.map(col): _*),
      Slots, s"FixtureGen: the distinct ${cols.mkString(", ")} of $srcDir")

  /** One uniform slot index in [1, Slots] as a 1-based element_at
    * index, keyed by (seed, id, stream tag [, extra]). */
  private def slot(seed: Long, tag: String, id: org.apache.spark.sql.Column,
      extra: org.apache.spark.sql.Column*) =
    (pmod(xxhash64((lit(seed) +: lit(tag) +: id +: extra): _*), lit(Slots.toLong))
      .cast("int") + 1)

  /** Generate `nDocs` documents distributed like `srcDir`'s. */
  def documents(spark: SparkSession, srcDir: String, nDocs: Long,
      seed: Long = 61): DataFrame = {
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    // metadata-scale extractions (vocab ~31, langs 5, sources 20,
    // length buckets ≤91), each bounded by the alias table's slots
    val vocabW = valueCounts(
        src.select(explode(split(col("text"), " ")).as("w")), srcDir, "w")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val langW = valueCounts(src, srcDir, "lang")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val sourceW = valueCounts(src, srcDir, "source")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val lenW = valueCounts(
        src.select(size(split(col("text"), " ")).as("n")), srcDir, "n")
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val vocabLit = lit(aliasSlots(vocabW, Slots))
    val langLit = lit(aliasSlots(langW, Slots))
    val sourceLit = lit(aliasSlots(sourceW, Slots))
    val lenLit = lit(aliasSlots(lenW, Slots))
    spark.range(nDocs).toDF("doc_id")
      .withColumn("n_words", element_at(lenLit, slot(seed, "len", col("doc_id"))))
      .withColumn("text", array_join(
        transform(sequence(lit(0), col("n_words") - 1),
          j => element_at(vocabLit, slot(seed, "word", col("doc_id"), j))),
        " "))
      .withColumn("lang", element_at(langLit, slot(seed, "lang", col("doc_id"))))
      .withColumn("source", element_at(sourceLit, slot(seed, "src", col("doc_id"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Heaps'-law vocabulary size for a corpus of `nDocs` documents:
    * ~50k terms at the sf0.1 anchor (5,000 docs), growing as
    * sqrt(corpus) — V = 50000·√(nDocs/5000), floored at 1,000. The
    * exponent β=0.5 is the classic mid-range Heaps fit for web text
    * (Baeza-Yates & Ribeiro-Neto, Modern Information Retrieval §6.5:
    * β≈0.4–0.6). */
  private[sources] def heapsVocabSize(nDocs: Long): Int =
    math.max(1000L, math.round(50000.0 * math.sqrt(nDocs / 5000.0))).toInt

  /** Realistic-vocabulary documents variant: same schema, lang/source
    * mix and length histogram as [[documents]] (alias-sampled from
    * `srcDir`), but each word is drawn from a `vocabSize`-term Zipf(1)
    * vocabulary instead of the shipped fixtures' ~31-word generator
    * vocabulary. Purpose (r9 verdict task 1): on a ~31-word vocabulary
    * every BM25 query term matches essentially EVERY posting, so the
    * standing postings index's selectivity — the entire point of an
    * inverted index at 100 TB — is unmeasurable, and the degenerate
    * scoring join is what blew the sf100 bm25 leg's disk. A Zipf
    * vocabulary gives real term selectivity (head terms are stopword-
    * like, the tail is rare) while staying fully deterministic.
    *
    * Zipf draw, O(1) per word and whole-stage-codegen-safe: for
    * Zipf(s=1) over ranks 1..V the CDF is H_r/H_V ≈ ln(r)/ln(V), so
    * the inverse-CDF transform of a hash-uniform u is rank = ⌊V^u⌋ =
    * ⌊exp(u·ln V)⌋ (clamped to [1, V]) — no alias table needed (an
    * alias table cannot represent a 50k+-term vocabulary in 4096
    * slots), no per-element search, no UDF. Terms are "w<rank>", so
    * rank 1 ("w1") is the most frequent term and frequencies fall off
    * as 1/rank. Every row remains a pure function of (seed, id):
    * regeneration is reproducible at any scale. */
  def documentsZipf(spark: SparkSession, srcDir: String, nDocs: Long,
      vocabSize: Int = 0, seed: Long = 61): DataFrame = {
    val v = if (vocabSize > 0) vocabSize else heapsVocabSize(nDocs)
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    val langW = valueCounts(src, srcDir, "lang")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val sourceW = valueCounts(src, srcDir, "source")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val lenW = valueCounts(
        src.select(size(split(col("text"), " ")).as("n")), srcDir, "n")
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val langLit = lit(aliasSlots(langW, Slots))
    val sourceLit = lit(aliasSlots(sourceW, Slots))
    val lenLit = lit(aliasSlots(lenW, Slots))
    val lnV = math.log(v.toDouble)
    spark.range(nDocs).toDF("doc_id")
      .withColumn("n_words", element_at(lenLit, slot(seed, "len", col("doc_id"))))
      .withColumn("text", array_join(
        transform(sequence(lit(0), col("n_words") - 1), j =>
          concat(lit("w"),
            least(lit(v.toLong), greatest(lit(1L),
              floor(exp(unif01(seed, "zipfw", col("doc_id"), j) * lnV))
                .cast("long"))))),
        " "))
      .withColumn("lang", element_at(langLit, slot(seed, "lang", col("doc_id"))))
      .withColumn("source", element_at(sourceLit, slot(seed, "src", col("doc_id"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Generate `nVecs` unit-norm Gaussian embeddings shaped like the
    * shipped `embeddings` table (ARRAY<FLOAT>[dim], label 0-9). */
  def embeddings(spark: SparkSession, nVecs: Long, dim: Int = 64,
      seed: Long = 61): DataFrame = {
    // Box-Muller from two hash-uniforms; u1 offset by 0.5/2^20 keeps
    // log() off exact zero
    val M = 1048576L
    def unif(tag: String, d: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(seed), lit(tag), col("vec_id"), d), lit(M))
        .cast("double") + 0.5) / M.toDouble
    spark.range(nVecs).toDF("vec_id")
      .withColumn("g", transform(sequence(lit(0), lit(dim - 1)), d =>
        sqrt(lit(-2.0) * log(unif("u1", d))) * cos(lit(2.0 * math.Pi) * unif("u2", d))))
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0),
        (acc, x) => acc + x * x)))
      .withColumn("embedding",
        transform(col("g"), x => (x / col("norm")).cast("float")))
      .withColumn("label",
        pmod(xxhash64(lit(seed), lit("label"), col("vec_id")), lit(10L)).cast("int"))
      .select("vec_id", "embedding", "label")
  }

  // ---------------------------------------------------- relational side

  private val M = 1048576L

  /** Hash-uniform in [0, 1), keyed by (seed, stream tag, id[, extra]).
    * Offset by 0.5/2^20 keeps downstream log() off exact zero. */
  private def unif01(seed: Long, tag: String,
      id: org.apache.spark.sql.Column, extra: org.apache.spark.sql.Column*) =
    (pmod(xxhash64((lit(seed) +: lit(tag) +: id +: extra): _*), lit(M))
      .cast("double") + 0.5) / M.toDouble

  /** Hash-uniform money in [lo, hi], 2 decimal places. Clamped AFTER
    * rounding: when the source envelope is not 2-decimal aligned,
    * round(lo + u·(hi−lo), 2) can step outside [lo, hi] (e.g. lo=1.004
    * rounds draws near lo down to 1.00) — the shipped fixtures are
    * aligned so the clamp is a no-op there, but the generator must be
    * envelope-safe for arbitrary sources (r7 ADVICE). */
  private def money(seed: Long, tag: String, lo: Double, hi: Double,
      id: org.apache.spark.sql.Column, extra: org.apache.spark.sql.Column*) =
    least(lit(hi), greatest(lit(lo),
      round(lit(lo) + unif01(seed, tag, id, extra: _*) * (hi - lo), 2)))

  /** Scaled TPC-H-ish relational tables — the decade step for the SQL
    * side (the reference's whole published baseline is TPC-DS at
    * SF 10→1000; traces/study_1). Same contract as [[documents]]:
    * every row is a pure function of (seed, id) via xxhash64, alias
    * tables carry the EMPIRICAL categorical mixes of `srcDir` (order
    * status/priority, returnflag×linestatus, market segments, brands,
    * part-name vocabulary, event types, lines-per-order histogram),
    * and continuous columns draw hash-uniform over the source's
    * observed [min, max]. FK DISCIPLINE: parents are dense
    * spark.range ids, so child FKs are pmod(xxhash64) into the SCALED
    * parent range — every o_custkey/l_partkey/l_suppkey resolves, and
    * l_orderkey inherits orders' own id space by generating lineitem
    * FROM the order id range (per-order line counts alias-sampled from
    * the source histogram, then posexploded — no join, no shuffle).
    * region/nation are fixed-size dimensions and copy through
    * unchanged. Generation is join-free and shuffle-free end to end:
    * at any mult the cost is one linear write per table. */
  def writeScaledRelational(spark: SparkSession, srcDir: String,
      outDir: String, mult: Int, seed: Long = 61): Unit = {
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // cast every generated column to the SOURCE column's exact type
    // (the shipped fixtures use TIMESTAMP_NTZ; int widths must match)
    def aligned(df: DataFrame, table: String): DataFrame =
      df.select(src(table).schema.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    def aliasOf(df: DataFrame, c: String): Array[String] =
      aliasSlots(valueCounts(df, srcDir, c)
        .map(r => (r.get(0).toString, r.getLong(1))).toSeq, Slots)
    def minMax(df: DataFrame, c: String): (Double, Double) = {
      val r = df.agg(min(col(c)), max(col(c))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    // fixed-size dimensions pass through
    Seq("region", "nation").foreach { t =>
      src(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    val nCust = src("customer").count() * mult
    val nSupp = src("supplier").count() * mult
    val nPart = src("part").count() * mult
    val nOrd = src("orders").count() * mult
    val nNation = src("nation").count()

    val (cLo, cHi) = minMax(src("customer"), "c_acctbal")
    val segLit = lit(aliasOf(src("customer"), "c_mktsegment"))
    spark.range(nCust).toDF("c_custkey")
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .withColumn("c_nationkey",
        pmod(xxhash64(lit(seed), lit("cnat"), col("c_custkey")),
          lit(nNation)).cast("int"))
      .withColumn("c_acctbal", money(seed, "cbal", cLo, cHi, col("c_custkey")))
      .withColumn("c_mktsegment",
        element_at(segLit, slot(seed, "cseg", col("c_custkey"))))
      .transform(aligned(_, "customer"))
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val (sLo, sHi) = minMax(src("supplier"), "s_acctbal")
    spark.range(nSupp).toDF("s_suppkey")
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .withColumn("s_nationkey",
        pmod(xxhash64(lit(seed), lit("snat"), col("s_suppkey")),
          lit(nNation)).cast("int"))
      .withColumn("s_acctbal", money(seed, "sbal", sLo, sHi, col("s_suppkey")))
      .transform(aligned(_, "supplier"))
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    val pSrc = src("part")
    val name1Lit = lit(aliasSlots(valueCounts(
        pSrc.select(split(col("p_name"), " ").getItem(0).as("w")), srcDir, "w")
      .map(r => (r.getString(0), r.getLong(1))).toSeq, Slots))
    val name2Lit = lit(aliasSlots(valueCounts(
        pSrc.select(split(col("p_name"), " ").getItem(1).as("w")), srcDir, "w")
      .map(r => (r.getString(0), r.getLong(1))).toSeq, Slots))
    val brandLit = lit(aliasOf(pSrc, "p_brand"))
    val typeLit = lit(aliasOf(pSrc, "p_type"))
    val (szLo, szHi) = {
      val r = pSrc.agg(min("p_size"), max("p_size")).head()
      (r.getInt(0), r.getInt(1))
    }
    val (rpLo, rpHi) = minMax(pSrc, "p_retailprice")
    spark.range(nPart).toDF("p_partkey")
      .withColumn("p_name", concat(
        element_at(name1Lit, slot(seed, "pn1", col("p_partkey"))), lit(" "),
        element_at(name2Lit, slot(seed, "pn2", col("p_partkey")))))
      .withColumn("p_brand",
        element_at(brandLit, slot(seed, "pbr", col("p_partkey"))))
      .withColumn("p_type",
        element_at(typeLit, slot(seed, "pty", col("p_partkey"))))
      .withColumn("p_size",
        (pmod(xxhash64(lit(seed), lit("psz"), col("p_partkey")),
          lit((szHi - szLo + 1).toLong)) + szLo).cast("int"))
      .withColumn("p_retailprice",
        money(seed, "prp", rpLo, rpHi, col("p_partkey")))
      .transform(aligned(_, "part"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")

    val oSrc = src("orders")
    val statusLit = lit(aliasOf(oSrc, "o_orderstatus"))
    val prioLit = lit(aliasOf(oSrc, "o_orderpriority"))
    val (tpLo, tpHi) = minMax(oSrc, "o_totalprice")
    // date envelopes as (min epoch-micros, inclusive day span) over the
    // FULL timestamp — a date-floored base precedes the source min when
    // source timestamps carry time-of-day (r7 ADVICE; the shipped
    // fixtures are midnight-aligned so values are unchanged), and the
    // span is sized so base + (days−1)·1d never exceeds the source max.
    // Kept off Row.getTimestamp so the java8-time collect types don't
    // bite.
    val MicrosPerDay = 86400000000L
    def dateEnvelope(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(
        unix_micros(min(col(c)).cast("timestamp")).as("mn"),
        unix_micros(max(col(c)).cast("timestamp")).as("mx")).head()
      (r.getLong(0), (r.getLong(1) - r.getLong(0)) / MicrosPerDay + 1)
    }
    val (oMinMicros, oDays) = dateEnvelope(oSrc, "o_orderdate")
    def orderDate(key: org.apache.spark.sql.Column) =
      timestamp_micros(lit(oMinMicros) +
        pmod(xxhash64(lit(seed), lit("odt"), key), lit(oDays)) *
          MicrosPerDay)
    spark.range(nOrd).toDF("o_orderkey")
      .withColumn("o_custkey",
        pmod(xxhash64(lit(seed), lit("ocust"), col("o_orderkey")), lit(nCust)))
      .withColumn("o_orderstatus",
        element_at(statusLit, slot(seed, "ost", col("o_orderkey"))))
      .withColumn("o_totalprice",
        money(seed, "otp", tpLo, tpHi, col("o_orderkey")))
      .withColumn("o_orderdate", orderDate(col("o_orderkey")))
      .withColumn("o_orderpriority",
        element_at(prioLit, slot(seed, "opr", col("o_orderkey"))))
      .transform(aligned(_, "orders"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val lSrc = src("lineitem")
    // lines-per-order histogram of the source, alias-sampled per order
    val perOrderLit = lit(aliasSlots(
      valueCounts(lSrc.groupBy("l_orderkey").count(), srcDir, "count")
        .map(r => (r.getLong(0).toInt, r.getLong(1))).toSeq, Slots))
    // joint (returnflag, linestatus) mix — sampled as one packed value
    val rflsLit = lit(aliasSlots(
      valueCounts(lSrc, srcDir, "l_returnflag", "l_linestatus")
        .map(r => (r.getString(0) + r.getString(1), r.getLong(2))).toSeq,
      Slots))
    val (lMinMicros, lDays) = dateEnvelope(lSrc, "l_shipdate")
    val discLit = lit(valueCounts(lSrc, srcDir, "l_discount").map(_.getDouble(0)))
    val taxLit = lit(valueCounts(lSrc, srcDir, "l_tax").map(_.getDouble(0)))
    val (qLo, qHi) = minMax(lSrc, "l_quantity")
    // extendedprice ≈ quantity × hash-uniform unit price: reproduces
    // the source envelope [qLo·unit_lo, qHi·unit_hi] exactly
    val (epLo, epHi) = minMax(lSrc, "l_extendedprice")
    val (unitLo, unitHi) = (epLo / qLo, epHi / qHi)
    val ln = col("l_linenumber")
    spark.range(nOrd).toDF("l_orderkey")
      .withColumn("l_linenumber", explode(sequence(lit(1),
        element_at(perOrderLit, slot(seed, "lcnt", col("l_orderkey"))))))
      .withColumn("l_partkey",
        pmod(xxhash64(lit(seed), lit("lpart"), col("l_orderkey"), ln),
          lit(nPart)))
      .withColumn("l_suppkey",
        pmod(xxhash64(lit(seed), lit("lsupp"), col("l_orderkey"), ln),
          lit(nSupp)))
      .withColumn("l_quantity",
        (pmod(xxhash64(lit(seed), lit("lqty"), col("l_orderkey"), ln),
          lit((qHi - qLo + 1).toLong)) + qLo).cast("double"))
      .withColumn("l_extendedprice", round(col("l_quantity") *
        (lit(unitLo) + unif01(seed, "lep", col("l_orderkey"), ln) *
          (unitHi - unitLo)), 2))
      .withColumn("l_discount", element_at(discLit,
        (pmod(xxhash64(lit(seed), lit("ldsc"), col("l_orderkey"), ln),
          size(discLit).cast("long")) + 1).cast("int")))
      .withColumn("l_tax", element_at(taxLit,
        (pmod(xxhash64(lit(seed), lit("ltax"), col("l_orderkey"), ln),
          size(taxLit).cast("long")) + 1).cast("int")))
      .withColumn("rfls", element_at(rflsLit,
        slot(seed, "lrf", col("l_orderkey"), ln)))
      .withColumn("l_returnflag", substring(col("rfls"), 1, 1))
      .withColumn("l_linestatus", substring(col("rfls"), 2, 1))
      .withColumn("l_shipdate",
        timestamp_micros(lit(lMinMicros) +
          pmod(xxhash64(lit(seed), lit("lsd"), col("l_orderkey"), ln),
            lit(lDays)) * MicrosPerDay))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .transform(aligned(_, "lineitem"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val eSrc = src("events")
    val nEvents = eSrc.count() * mult
    val nUsers = (eSrc.agg(max("user_id")).head().getLong(0) + 1) * mult
    val etypeLit = lit(aliasOf(eSrc, "event_type"))
    val (vLo, vHi) = minMax(eSrc, "value")
    val eTs = eSrc.agg(
      unix_micros(min(col("ts")).cast("timestamp")).as("mn"),
      unix_micros(max(col("ts")).cast("timestamp")).as("mx")).head()
    val (baseMicros, spanMicros) = (eTs.getLong(0), eTs.getLong(1) - eTs.getLong(0))
    val stepMicros = math.max(1L, spanMicros / math.max(1L, nEvents))
    spark.range(nEvents).toDF("event_id")
      // ts advances ~monotonically with event_id (the source's shape)
      // with hash jitter inside each step
      .withColumn("ts", timestamp_micros(lit(baseMicros) +
        col("event_id") * stepMicros +
        pmod(xxhash64(lit(seed), lit("ets"), col("event_id")),
          lit(stepMicros))))
      .withColumn("user_id",
        pmod(xxhash64(lit(seed), lit("eusr"), col("event_id")), lit(nUsers)))
      .withColumn("event_type",
        element_at(etypeLit, slot(seed, "ety", col("event_id"))))
      .withColumn("value", money(seed, "eval", vLo, vHi, col("event_id")))
      .withColumn("props", format_string("{\"k\": %d}",
        pmod(xxhash64(lit(seed), lit("eprp"), col("event_id")), lit(100L))))
      .transform(aligned(_, "events"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Write a scaled fixture dir: documents + embeddings at `mult`× the
    * row counts of `srcDir` (sf0.1 × 10 = the sf1 decade), plus — when
    * the source dir carries them — the full relational side via
    * [[writeScaledRelational]]. */
  def writeScaled(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int, seed: Long = 61): Unit = {
    val srcEmb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nDocs = spark.read.parquet(s"$srcDir/documents.parquet").count() * mult
    val nVecs = srcEmb.count() * mult
    // derive the embedding dim from the source fixture, never assume
    val dim = srcEmb.select(size(col("embedding"))).head().getInt(0)
    documents(spark, srcDir, nDocs, seed)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embeddings(spark, nVecs, dim = dim, seed = seed)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    if (new java.io.File(s"$srcDir/orders.parquet").exists())
      writeScaledRelational(spark, srcDir, outDir, mult, seed)
  }

  /** Write a Zipf-vocabulary bench fixture dir: documents.parquet ONLY
    * (the bm25/retrieval bench families read nothing else), at `mult`×
    * the source row count with a Heaps-scaled vocabulary. The gated
    * sf fixtures stay untouched — this is a bench fixture VARIANT; legs
    * record the dir they ran against. */
  def writeZipf(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int, seed: Long = 61): Unit = {
    val nDocs = spark.read.parquet(s"$srcDir/documents.parquet").count() * mult
    documentsZipf(spark, srcDir, nDocs, seed = seed)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** CLI: FixtureGen <srcDir> <outDir> <mult> [zipf]. */
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: FixtureGen <srcDir> <outDir> <mult> [zipf]")
      sys.exit(2)
    }
    val Array(srcDir, outDir, multStr) = args.take(3)
    val mult = scala.util.Try(multStr.toInt).toOption
      .filter(_ >= 1).getOrElse {
        System.err.println(s"FixtureGen: mult must be a positive int, got '$multStr'")
        sys.exit(2)
      }
    val spark = graft.Session.start()
    if (args.length > 3 && args(3) == "zipf") {
      writeZipf(spark, srcDir, outDir, mult)
      println(s"[fixturegen] wrote ${mult}x zipf documents of $srcDir to $outDir")
    } else {
      writeScaled(spark, srcDir, outDir, mult)
      println(s"[fixturegen] wrote ${mult}x of $srcDir to $outDir")
    }
    spark.stop()
  }
}
