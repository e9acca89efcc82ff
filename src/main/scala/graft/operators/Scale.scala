package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Skew- and scale-management helpers: the patterns a 1000-executor
  * job needs when keys are hot or orderings are global. Everything is
  * deterministic in RESULT; buckets only re-route rows, and all sums
  * run decimal-exact so re-association cannot change a bit (see
  * [[graft.functions.Exact]]).
  */
object Scale {
  private val D = DecimalType(18, 6)

  /** Distributed exclusive prefix sums — the 100 TB path for
    * [[graft.scheduling.Carbon.prefixSums]]'s single-partition global
    * window: (1) bucket the axis by range, (2) per-bucket partial sums
    * (parallel), (3) fold the ≤`numBuckets` partials into exclusive
    * offsets on the driver (constant-size, so no global WindowExec
    * anywhere in the plan), (4) broadcast offsets back and window only
    * WITHIN each bucket (parallel). Decimal-exact, so the result is
    * bit-identical to the single-window form. */
  def prefixSumsDistributed(slots: DataFrame, slotCol: String = "slot",
      ciCol: String = "ci", numBuckets: Int = 32): DataFrame = {
    val spark = slots.sparkSession
    val bounds = slots.agg(min(col(slotCol)).cast("long"),
      max(col(slotCol)).cast("long")).head()
    if (bounds.isNullAt(0))  // empty input: no prefix to carry
      return slots.withColumn("prefix", lit(0.0))
    val lo = bounds.getLong(0)
    val width = (bounds.getLong(1) - lo) / numBuckets + 1
    val bucketed = slots.withColumn("__bucket",
      least(((col(slotCol) - lit(lo)) / lit(width)).cast("long"),
        lit(numBuckets - 1L)))
    val partials = graft.Collect.collectChecked(
      bucketed.groupBy("__bucket").agg(sum(col(ciCol).cast(D)).as("__bucket_sum")),
      numBuckets, s"prefixSumsDistributed: the $numBuckets slot-range bucket sums")
      .sortBy(_.getLong(0))
    var running = java.math.BigDecimal.ZERO
    val offsetRows = partials.map { r =>
      val off = running
      val s = r.getDecimal(1)
      if (s != null) running = running.add(s)
      org.apache.spark.sql.Row(r.getLong(0), off)
    }
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__bucket",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__offset", D, nullable = false))))
    val withinW = Window.partitionBy("__bucket").orderBy(col(slotCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn("prefix",
        (col("__offset") +
          coalesce(sum(col(ciCol).cast(D)).over(withinW), lit(0).cast(D)))
          .cast("double"))
      .drop("__bucket", "__offset")
  }

  /** Distributed global row_number: the 100 TB path for
    * `row_number().over(Window.orderBy(...))`. `bucketKey` must be a
    * non-null numeric (or castable-to-double) column monotone in the
    * ordering — usually the leading order key. Rows are range-bucketed
    * on it, per-bucket counts fold into exclusive offsets on the driver
    * (≤`numBuckets` rows), and ranks are assigned only WITHIN each
    * bucket, so no single task ever sorts the whole frame. Equal bucket
    * keys always land in the same bucket, so the result matches the
    * global form wherever the full ordering is unique. */
  def rowNumberDistributed(df: DataFrame, bucketKey: Column,
      orderCols: Seq[Column], outCol: String, numBuckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val bounds = df.agg(min(bucketKey).cast("double"),
      max(bucketKey).cast("double")).head()
    if (bounds.isNullAt(0))  // empty input: any rank column is vacuous
      return df.withColumn(outCol, lit(0L))
    val lo = bounds.getDouble(0)
    val hi = bounds.getDouble(1)
    val width = if (hi > lo) (hi - lo) / numBuckets else 1.0
    def bucketOf(c: Column): Column =
      least(floor((c.cast("double") - lit(lo)) / lit(width)).cast("int"),
        lit(numBuckets - 1))
    val bucketed = df.withColumn("__bucket", bucketOf(bucketKey))
    val counts = graft.Collect.collectChecked(
      bucketed.groupBy("__bucket").agg(count(lit(1)).as("__cnt")),
      numBuckets, s"rowNumberDistributed: the $numBuckets bucket counts")
      .sortBy(_.getInt(0))
    var running = 0L
    val offsetRows = counts.map { r =>
      val off = running
      running += r.getLong(1)
      org.apache.spark.sql.Row(r.getInt(0), off)
    }
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__offset",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val withinW = Window.partitionBy("__bucket").orderBy(orderCols: _*)
    bucketed
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn(outCol, col("__offset") + row_number().over(withinW))
      .drop("__bucket", "__offset")
  }

  /** Shuffle-key skew report — the diagnostic that decides WHEN a hot
    * key needs handling (a broadcast, AQE skew-join splitting): the k
    * heaviest values of a prospective join/group key, each with its row
    * count, share of all rows, and skew factor (count ÷ mean-per-key; ~1 is uniform,
    * ≫1 is a hot key that will pin a reducer). One key-groupBy (the
    * count frame is key-cardinality-sized; map-side combine absorbs
    * the very skew being measured) + the TopKPerKey bounded heap —
    * never a global sort of the counts. */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 10)
      : DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    val stats = counts.agg(count(lit(1)).as("n_keys"),
      sum("n").cast("long").as("total"))
    val top = graft.plans.TopKPerKey(counts.withColumn("__g", lit(1)),
      Seq("__g"), Seq(col("n").desc, col(keyCol).asc), k).drop("__g")
    top.crossJoin(broadcast(stats))
      .select(col(keyCol), col("n"),
        (col("n").cast("double") / col("total")).as("share"),
        (col("n").cast("double") * col("n_keys") / col("total"))
          .as("skew_x"))
  }

  type Q = (org.apache.spark.sql.SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "diag_key_skew" -> ((s, dir) =>
      keySkewReport(graft.Tables.load(s, dir, "lineitem"), "l_suppkey")
        .orderBy(col("n").desc, col("l_suppkey"))),
  )

  val oracles: Map[String, String] = Map(
    "diag_key_skew" ->
      """WITH counts AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_suppkey),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(n) AS BIGINT) AS total FROM counts)
        |SELECT l_suppkey, n,
        |  CAST(n AS DOUBLE) / total AS share,
        |  CAST(n AS DOUBLE) * n_keys / total AS skew_x
        |FROM counts CROSS JOIN s
        |ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin,
  )
}
