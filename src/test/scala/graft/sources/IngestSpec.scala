package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files

class IngestSpec extends SparkSpec {

  test("sanitizeColumnName: whitespace, symbols, runs, digit-leading, case") {
    assert(Ingest.sanitizeColumnName("Runtime (s)") === "runtime_s_")
    assert(Ingest.sanitizeColumnName("user\tid") === "user_id")
    assert(Ingest.sanitizeColumnName("Event__Type") === "event_type")
    assert(Ingest.sanitizeColumnName("2nd_col") === "col_2nd_col")
    assert(Ingest.sanitizeColumnName("plain") === "plain")
    assert(Ingest.sanitizeColumnName("a-b.c") === "a_b_c")
  }

  test("parseTrinoType: base types, decimal caps, fallback") {
    assert(Ingest.parseTrinoType("INTEGER") === IntegerType)
    assert(Ingest.parseTrinoType("smallint") === IntegerType)
    assert(Ingest.parseTrinoType("BIGINT") === LongType)
    assert(Ingest.parseTrinoType("VARCHAR(255)") === StringType)
    assert(Ingest.parseTrinoType("CHAR") === StringType)
    assert(Ingest.parseTrinoType("BOOLEAN") === BooleanType)
    assert(Ingest.parseTrinoType("REAL") === DoubleType)
    assert(Ingest.parseTrinoType("DATE") === DateType)
    assert(Ingest.parseTrinoType("TIMESTAMP WITH TIME ZONE") === TimestampType)
    assert(Ingest.parseTrinoType("DECIMAL(12,2)") === DecimalType(12, 2))
    assert(Ingest.parseTrinoType("DECIMAL( 50 , 45 )") === DecimalType(38, 38))
    assert(Ingest.parseTrinoType("DECIMAL(10,20)") === DecimalType(10, 10))
    assert(Ingest.parseTrinoType("GEOMETRY") === StringType)
  }

  test("buildSchema sanitizes names and keeps order") {
    val st = Ingest.buildSchema(Seq(
      "Order Key" -> "BIGINT", "2fast" -> "DOUBLE", "note" -> "VARCHAR"))
    assert(st.fieldNames.toSeq === Seq("order_key", "col_2fast", "note"))
    assert(st.fields(0).dataType === LongType)
  }

  test("readCsv honors pipe delimiter, disabled quoting, explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "t.csv")
    // embedded double-quote must survive since quoting is disabled
    Files.writeString(f.toPath, "1|a \"quoted\" token|2.5\n2|plain|3.0\n")
    val schema = Ingest.buildSchema(Seq(
      "id" -> "BIGINT", "s" -> "VARCHAR", "x" -> "DOUBLE"))
    val rows = Ingest.readCsv(spark, f.getAbsolutePath, schema)
      .orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0) === Row(1L, "a \"quoted\" token", 2.5))
    assert(rows(1) === Row(2L, "plain", 3.0))
  }

  test("writeTable + NDJSON sink round-trip") {
    import spark.implicits._
    val df = Seq(("q1", 15.78), ("q2", 3.2)).toDF("query_id", "elapsed_s")
    val dir = Files.createTempDirectory("graft_sink").toFile
    Ingest.writeTable(df, s"$dir/tbl")
    assert(spark.read.parquet(s"$dir/tbl").count() === 2)
    intercept[Exception](Ingest.writeTable(df, s"$dir/tbl", "create"))
    Ingest.writeTable(df, s"$dir/tbl", "append")
    assert(spark.read.parquet(s"$dir/tbl").count() === 4)
    Ingest.writeTable(df, s"$dir/log", format = "json")
    val back = spark.read.json(s"$dir/log")
    assert(back.count() === 2)
    assert(back.columns.sorted.toSeq === Seq("elapsed_s", "query_id"))
  }

  test("ORC and JSON sinks round-trip the lineitem slice typed") {
    val li = graft.Tables.load(spark, sfSmoke, "lineitem")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    val dir = Files.createTempDirectory("graft_fmt").toFile
    Ingest.writeTable(li, s"$dir/orc", format = "orc")
    val orcBack = spark.read.orc(s"$dir/orc")
    assert(orcBack.schema === li.schema, "ORC must preserve types exactly")
    assert(orcBack.count() === li.count())
    Ingest.writeTable(li, s"$dir/json", format = "json")
    // JSON carries no types: round-trip under the original read schema
    val jsonBack = spark.read.schema(li.schema).json(s"$dir/json")
    assert(jsonBack.count() === li.count())
    // exact-sum comparison: decimal cast makes the fold order-free
    def s(d: org.apache.spark.sql.DataFrame) =
      d.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("l_quantity")
          .cast("decimal(20,2)"))).head().getDecimal(0)
    assert(s(jsonBack) === s(li))
    assert(s(orcBack) === s(li))
  }

  test("loadQueryFiles: name-sorted q*.sql only") {
    val dir = Files.createTempDirectory("graft_q").toFile
    for (n <- Seq("q2.sql", "q10.sql", "q1.sql", "notes.txt"))
      Files.writeString(new java.io.File(dir, n).toPath, s"SELECT '$n'")
    val loaded = Ingest.loadQueryFiles(dir.getAbsolutePath)
    // name-sorted (string sort: q1 < q10 < q2), like the reference's sorted glob
    assert(loaded.map(_._1) === Seq("q1", "q10", "q2"))
    assert(loaded.head._2 === "SELECT 'q1.sql'")
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    val o = graft.Tables.load(spark, sfSmoke, "orders")
      .select("o_orderkey", "o_totalprice")
    val li = graft.Tables.load(spark, sfSmoke, "lineitem")
      .select("l_orderkey", "l_quantity")
    Ingest.writeBucketedTable(o, "b_orders", Seq("o_orderkey"), 8,
      sortCols = Seq("o_orderkey"))
    Ingest.writeBucketedTable(li, "b_lineitem", Seq("l_orderkey"), 8,
      sortCols = Seq("l_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and it still answers correctly
      assert(joined.count() === li.count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("partitioned table prunes statically and dynamically (DPP)") {
    import org.apache.spark.sql.functions._
    val o = graft.Tables.load(spark, sfSmoke, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    Ingest.writePartitionedTable(o, "p_orders", Seq("o_orderstatus"))
    // static pruning: the partition filter reaches PartitionFilters
    val static = spark.table("p_orders")
      .filter(col("o_orderstatus") === "F")
    val splan = static.queryExecution.executedPlan.toString
    assert(splan.contains("PartitionFilters") &&
      splan.contains("o_orderstatus"), splan.take(600))
    assert(static.count() > 0)
    // dynamic pruning: the dim filter is on a NON-key column, so the
    // partition filter can only be derived at runtime from the dim's
    // rows (a key-column filter would be inferred statically instead)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val dim = graft.Tables.load(spark, sfSmoke, "orders")
      .groupBy(col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val joined = spark.table("p_orders")
      .join(dim, col("o_orderstatus") === col("st"))
    val dplan = joined.queryExecution.executedPlan.toString
    assert(dplan.contains("dynamicpruning"), dplan.take(600))
    assert(joined.count() > 0)
  }

  test("ingest_sanitize_types fixture query returns rows") {
    assert(Ingest.queries("ingest_sanitize_types")(spark, sfSmoke).count() > 0)
  }

  // ------------------------------------------------- benchmark schemas

  /** The two multi-table benchmark schemas the reference ships
    * (datasets/iceberg conversion/JOB_Trino_Schema.json and
    * SSB_Trino_Schema.json — JOB is the public IMDB join-order
    * benchmark, SSB the public star-schema benchmark), re-expressed
    * verbatim as fixtures: every declared column of every table must
    * parse, read from CSV, and materialize with its declared type. */
  private val jobSchemaJson = """{
    |"aka_name":{"id":"INTEGER","person_id":"INTEGER","name":"VARCHAR","imdb_index":"VARCHAR","name_pcode_cf":"VARCHAR","name_pcode_nf":"VARCHAR","surname_pcode":"VARCHAR","md5sum":"VARCHAR"},
    |"aka_title":{"id":"INTEGER","movie_id":"INTEGER","title":"VARCHAR","imdb_index":"VARCHAR","kind_id":"INTEGER","production_year":"DOUBLE","phonetic_code":"VARCHAR","episode_of_id":"DOUBLE","season_nr":"DOUBLE","episode_nr":"DOUBLE","note":"VARCHAR","md5sum":"VARCHAR"},
    |"cast_info":{"id":"INTEGER","person_id":"INTEGER","movie_id":"INTEGER","person_role_id":"DOUBLE","note":"VARCHAR","nr_order":"DOUBLE","role_id":"INTEGER"},
    |"char_name":{"id":"INTEGER","name":"VARCHAR","imdb_index":"VARCHAR","imdb_id":"DOUBLE","name_pcode_nf":"VARCHAR","surname_pcode":"VARCHAR","md5sum":"VARCHAR"},
    |"comp_cast_type":{"id":"INTEGER","kind":"VARCHAR"},
    |"company_name":{"id":"INTEGER","name":"VARCHAR","country_code":"VARCHAR","imdb_id":"DOUBLE","name_pcode_nf":"VARCHAR","name_pcode_sf":"VARCHAR","md5sum":"VARCHAR"},
    |"company_type":{"id":"INTEGER","kind":"VARCHAR"},
    |"complete_cast":{"id":"INTEGER","movie_id":"INTEGER","subject_id":"INTEGER","status_id":"INTEGER"},
    |"info_type":{"id":"INTEGER","info":"VARCHAR"},
    |"keyword":{"id":"INTEGER","keyword":"VARCHAR","phonetic_code":"VARCHAR"},
    |"kind_type":{"id":"INTEGER","kind":"VARCHAR"},
    |"link_type":{"id":"INTEGER","link":"VARCHAR"},
    |"movie_companies":{"id":"INTEGER","movie_id":"INTEGER","company_id":"INTEGER","company_type_id":"INTEGER","note":"VARCHAR"},
    |"movie_info_idx":{"id":"INTEGER","movie_id":"INTEGER","info_type_id":"INTEGER","info":"VARCHAR","note":"DOUBLE"},
    |"movie_keyword":{"id":"INTEGER","movie_id":"INTEGER","keyword_id":"INTEGER"},
    |"movie_link":{"id":"INTEGER","movie_id":"INTEGER","linked_movie_id":"INTEGER","link_type_id":"INTEGER"},
    |"name":{"id":"INTEGER","name":"VARCHAR","imdb_index":"VARCHAR","imdb_id":"DOUBLE","gender":"VARCHAR","name_pcode_cf":"VARCHAR","name_pcode_nf":"VARCHAR","surname_pcode":"VARCHAR","md5sum":"VARCHAR"},
    |"role_type":{"id":"INTEGER","role":"VARCHAR"},
    |"title":{"id":"INTEGER","title":"VARCHAR","imdb_index":"VARCHAR","kind_id":"INTEGER","production_year":"DOUBLE","imdb_id":"VARCHAR","phonetic_code":"VARCHAR","episode_of_id":"DOUBLE","season_nr":"DOUBLE","episode_nr":"DOUBLE","series_years":"VARCHAR","md5sum":"VARCHAR"},
    |"movie_info":{"id":"INTEGER","movie_id":"INTEGER","info_type_id":"INTEGER","info":"VARCHAR","note":"VARCHAR"},
    |"person_info":{"id":"INTEGER","person_id":"INTEGER","info_type_id":"INTEGER","info":"VARCHAR","note":"VARCHAR"}
    |}""".stripMargin

  private val ssbSchemaJson = """{
    |"customer":{"c_custkey":"INTEGER","c_name":"VARCHAR","c_address":"VARCHAR","c_city":"VARCHAR","c_nation":"VARCHAR","c_region":"VARCHAR","c_phone":"VARCHAR","c_mktsegment":"VARCHAR"},
    |"part":{"p_partkey":"INTEGER","p_name":"VARCHAR","p_mfgr":"VARCHAR","p_category":"VARCHAR","p_brand1":"VARCHAR","p_color":"VARCHAR","p_type":"VARCHAR","p_size":"INTEGER","p_container":"VARCHAR"},
    |"supplier":{"s_suppkey":"INTEGER","s_name":"VARCHAR","s_address":"VARCHAR","s_city":"VARCHAR","s_nation":"VARCHAR","s_region":"VARCHAR","s_phone":"VARCHAR"},
    |"lineorder":{"lo_orderkey":"INTEGER","lo_linenumber":"INTEGER","lo_custkey":"INTEGER","lo_partkey":"INTEGER","lo_suppkey":"INTEGER","lo_orderdate":"INTEGER","lo_orderpriority":"VARCHAR","lo_shippriority":"INTEGER","lo_quantity":"INTEGER","lo_extendedprice":"INTEGER","lo_ordertotalprice":"INTEGER","lo_discount":"INTEGER","lo_revenue":"INTEGER","lo_supplycost":"INTEGER","lo_tax":"INTEGER","lo_commitdate":"INTEGER","lo_shipmode":"VARCHAR"},
    |"dim_date":{"d_datekey":"VARCHAR","d_date":"VARCHAR","d_dayofweek":"VARCHAR","d_month":"VARCHAR","d_year":"VARCHAR","d_yearmonthnum":"VARCHAR","d_yearmonth":"VARCHAR","d_daynuminweek":"VARCHAR","d_daynuminmonth":"VARCHAR","d_daynuminyear":"VARCHAR","d_monthnuminyear":"VARCHAR","d_weeknuminyear":"VARCHAR","d_sellingseason":"VARCHAR","d_lastdayinweekfl":"VARCHAR","d_lastdayinmonthfl":"VARCHAR","d_holidayfl":"VARCHAR","d_weekdayfl":"VARCHAR"}
    |}""".stripMargin

  /** One deterministic CSV cell per Spark type, per column ordinal. */
  private def cell(dt: org.apache.spark.sql.types.DataType, i: Int): String =
    dt match {
      case org.apache.spark.sql.types.IntegerType => (i + 1).toString
      case org.apache.spark.sql.types.DoubleType  => s"${i + 1}.5"
      case org.apache.spark.sql.types.StringType  => s"v$i"
      case other => fail(s"unexpected type in benchmark schemas: $other")
    }

  for ((bench, json, nTables, nCols) <- Seq(
      ("JOB", jobSchemaJson, 21, 108), ("SSB", ssbSchemaJson, 5, 58)))
    test(s"$bench schema JSON round-trips: parse -> CSV read -> typed rows") {
      val schemas = Ingest.parseSchemaJson(json)
      assert(schemas.size === nTables)
      assert(schemas.map(_._2.size).sum === nCols)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-${bench.toLowerCase}-").toFile
      try schemas.foreach { case (table, schema) =>
        // two pipe-delimited rows valued per declared type
        val rows = (0 until 2).map { r =>
          schema.fields.zipWithIndex
            .map { case (f, i) => cell(f.dataType, i + r) }.mkString("|")
        }
        val csv = new java.io.File(dir, s"$table.csv")
        java.nio.file.Files.write(csv.toPath,
          rows.mkString("\n").getBytes("UTF-8"))
        val df = Ingest.readCsv(spark, csv.getAbsolutePath, schema)
        // every declared column materializes with its declared type
        assert(df.schema === schema, s"$table schema drift")
        val collected = df.collect()
        assert(collected.length === 2, s"$table rows")
        collected.foreach { row =>
          schema.fields.indices.foreach { i =>
            assert(!row.isNullAt(i),
              s"$table.${schema.fields(i).name} failed to parse as " +
                s"${schema.fields(i).dataType}")
          }
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
    }
}
