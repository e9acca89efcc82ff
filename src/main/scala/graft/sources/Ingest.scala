package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest/DDL layer (SURVEY.md §2.C — behavior of
  * `datasets/iceberg conversion/csv_to_iceberg.py` and
  * `docker/trino-client/src/run_workload.py`): Trino-type parsing,
  * column-name sanitization, schema-explicit CSV reads with the
  * reference's quoting convention, columnar table sink, NDJSON log
  * sink, and the name-sorted query-file loader.
  *
  * The reference's Iceberg catalog is out of scope in this container
  * (no Iceberg jars); the sink writes Parquet through the identical
  * `DataFrameWriter` surface with the same 512 MB target-file-size
  * contract, which is what Iceberg stores underneath anyway
  * (csv_to_iceberg.py:213, trino-connector-iceberg-config.yaml:10).
  */
object Ingest {

  /** Normalize a raw CSV header for catalog use
    * (csv_to_iceberg.py:23-29): whitespace and non-word chars → `_`,
    * runs collapsed, digit-leading names prefixed `col_`, lowercased. */
  def sanitizeColumnName(name: String): String = {
    var c = name.replace("\t", "_").replace(" ", "_")
    c = c.replaceAll("[^\\w]", "_")
    c = c.replaceAll("__+", "_")
    if (c.matches("^\\d.*")) c = s"col_$c"
    c.toLowerCase
  }

  private val DecimalRe = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** Trino type string → Spark type (csv_to_iceberg.py:32-66):
    * DECIMAL(P,S) with P capped at 38 and S at P; base types by name;
    * unknown types degrade to string. */
  def parseTrinoType(trinoType: String): DataType = {
    val t = trinoType.trim.toUpperCase
    DecimalRe.findPrefixMatchOf(t) match {
      case Some(m) =>
        val p = math.min(m.group(1).toInt, 38)
        val s = math.min(m.group(2).toInt, p)
        DecimalType(p, s)
      case None =>
        t.split('(')(0).trim match {
          case "INTEGER" | "INT" | "SMALLINT" => IntegerType
          case "BIGINT"                       => LongType
          case "VARCHAR" | "CHAR"             => StringType
          case "BOOLEAN"                      => BooleanType
          case "DOUBLE" | "REAL" | "FLOAT"    => DoubleType
          case "DATE"                         => DateType
          case "TIMESTAMP" | "TIMESTAMP WITH TIME ZONE" => TimestampType
          case _                              => StringType
        }
    }
  }

  /** column→Trino-type map (insertion-ordered) → StructType, names
    * sanitized (csv_to_iceberg.py:69-74). */
  def buildSchema(columns: Seq[(String, String)]): StructType =
    StructType(columns.map { case (name, tpe) =>
      StructField(sanitizeColumnName(name), parseTrinoType(tpe), nullable = true)
    })

  /** Parse a multi-table Trino schema JSON — `{table: {column:
    * trino_type}}`, the shape of the reference's benchmark schema
    * files (`datasets/iceberg conversion/JOB_Trino_Schema.json`,
    * `SSB_Trino_Schema.json`) — into per-table Spark schemas,
    * preserving declared table and column order and applying the same
    * sanitize+parse chain as single-table ingest. Jackson keeps
    * object-field insertion order, which IS the column order contract
    * (csv_to_iceberg.py:69-74). */
  def parseSchemaJson(json: String): Seq[(String, StructType)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, StructType)]
    val tables = root.fields()
    while (tables.hasNext) {
      val t = tables.next()
      val cols = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val fields = t.getValue.fields()
      while (fields.hasNext) {
        val f = fields.next()
        cols += f.getKey -> f.getValue.asText()
      }
      out += t.getKey -> buildSchema(cols.toSeq)
    }
    out.toSeq
  }

  /** Schema-explicit CSV read with the reference's conventions
    * (csv_to_iceberg.py:158-166, 207-211): pipe delimiter, quoting
    * disabled via a space quote char, backslash escape, optional
    * header. One file per table; at scale this is a directory and the
    * reader parallelizes per-split automatically. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false, delimiter: String = "|",
      quote: String = " ", escape: String = "\\"): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("quote", quote)
      .option("escape", escape)
      .schema(schema)
      .csv(path)

  /** Columnar table sink (csv_to_iceberg.py:180-194): create-or-replace
    * / error-if-exists / append, 512 MB target files. `maxRecordsPerFile`
    * is the Parquet-level lever for the Iceberg
    * `write.target-file-size-bytes` property. `format` widens the sink
    * beyond parquet to the other splittable formats this container
    * ships readers for — `orc` (columnar, built into spark-sql) and
    * `json` (NDJSON interchange; schema round-trips via an explicit
    * read schema, as JSON carries no types). */
  def writeTable(df: DataFrame, path: String,
      mode: String = "createOrReplace", format: String = "parquet"): Unit = {
    val writer = df.write.format(format)
      .option("parquet.block.size", (512L * 1024 * 1024).toString)
    mode match {
      case "createOrReplace" => writer.mode("overwrite").save(path)
      case "create"          => writer.mode("errorifexists").save(path)
      case "append"          => writer.mode("append").save(path)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** Bucketed + sorted managed table (the co-located-join layout:
    * Iceberg's bucket partition transform ↔ Spark's bucketBy). Two
    * tables bucketed the same way on the join key join WITHOUT a
    * shuffle — at 100 TB that is the difference between a map-side
    * sort-merge and re-shuffling both fact tables every query. */
  /** True create-or-replace for a managed table: drop the catalog
    * entry AND any orphaned warehouse location a previous session
    * left behind. */
  private def dropTableAndLocation(spark: SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = new java.io.File(warehouse, table.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(loc)
    }
  }

  def writeBucketedTable(df: org.apache.spark.sql.DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int = 32,
      sortCols: Seq[String] = Nil): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty)
      w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Partitioned managed table (Iceberg identity-partition analog):
    * directory-per-value layout so partition filters prune at the
    * FILE level, and joins against filtered dims prune dynamically
    * (DPP) — at 100 TB the difference between scanning one date's
    * files and scanning the table. */
  def writePartitionedTable(df: org.apache.spark.sql.DataFrame, table: String,
      partitionCols: Seq[String]): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    df.write.format("parquet").mode("overwrite")
      .partitionBy(partitionCols: _*)
      .saveAsTable(table)
  }

  /** Unbucketed managed table with the same true create-or-replace
    * semantics — for small metadata frames that ride beside an index
    * (e.g. a standing LSH index's pinned parameters). */
  def writeManagedTable(df: org.apache.spark.sql.DataFrame,
      table: String): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    df.write.format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** Name-sorted q*.sql loader (run_workload.py:26-30). */
  def loadQueryFiles(dir: String): Seq[(String, String)] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("q") && f.getName.endsWith(".sql"))
      .sortBy(_.getName)
      .map { f =>
        val name = f.getName.stripSuffix(".sql")
        name -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }.toSeq
  }

  // --------------------------------------------------- fixture queries

  type Q = (SparkSession, String) => DataFrame

  /** The sanitizer + type parser driven through a real plan: messy
    * reference-shaped column names (e.g. "Runtime (s)",
    * "2nd_col") renamed via [[sanitizeColumnName]] and cast via
    * [[parseTrinoType]]; DuckDB mirrors the expected names/types
    * literally, so the oracle gate checks both functions' outputs. */
  private val ingestSanitizeTypes: Q = (s, dir) => {
    val e = graft.Tables.load(s, dir, "events")
    val renames = Seq(
      "Runtime (s)" -> col("value"),
      "2nd_col"     -> col("event_id"),
      "user\tid"    -> col("user_id"),
      "Event__Type" -> col("event_type"))
    val cols = renames.map { case (messy, c) => c.as(sanitizeColumnName(messy)) }
    val typed = e.select(cols: _*)
      .withColumn("runtime_dec",
        col(sanitizeColumnName("Runtime (s)"))
          .cast(parseTrinoType("DECIMAL(15,6)")).cast("double"))
      .withColumn("id_int",
        col(sanitizeColumnName("2nd_col")).cast(parseTrinoType("INTEGER")))
      .withColumn("fallback_str",
        col(sanitizeColumnName("Event__Type")).cast(parseTrinoType("WHATEVER")))
    typed.orderBy("col_2nd_col")
  }

  val queries: Map[String, Q] = Map(
    "ingest_sanitize_types" -> ingestSanitizeTypes)

  val oracles: Map[String, String] = Map(
    "ingest_sanitize_types" ->
      """SELECT value AS runtime_s_, event_id AS col_2nd_col,
        |  user_id AS user_id, event_type AS event_type,
        |  CAST(CAST(value AS DECIMAL(15,6)) AS DOUBLE) AS runtime_dec,
        |  CAST(event_id AS INT) AS id_int,
        |  CAST(event_type AS VARCHAR) AS fallback_str
        |FROM events ORDER BY col_2nd_col""".stripMargin)
}
