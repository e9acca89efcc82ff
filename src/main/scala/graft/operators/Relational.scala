package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Core relational operator surface (SURVEY.md §2.A rows 1-14, 24-30):
  * scan/project, filter, the join family, basic aggregation, sort,
  * top-k, set operations, distinct.
  *
  * Design notes for scale (these run on ~100 TB in production):
  *  - dimension tables (region/nation/supplier/part/customer at TPC-H
  *    proportions) are broadcast explicitly so the big fact tables never
  *    shuffle for star joins;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once
  *    and reuse that partitioning through the downstream aggregate;
  *  - every aggregate over doubles goes through exact decimal sums
  *    (graft.functions.Exact) — deterministic under any partitioning;
  *  - every query ends in a total order (required by the oracle
  *    hash-compare; at scale the ORDER BY is a final range-partitioned
  *    sort over already-reduced rows, not over the fact table).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- scan
  /** Row 1-2: projection over a parquet scan. Catalyst prunes the read
    * schema to exactly these four columns (verify via PushedFilters /
    * ReadSchema in explain). */
  private val scanProject: Q = (s, dir) => {
    t(s, dir)("lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // -------------------------------------------------------------- filter
  /** Row 3: WHERE with BETWEEN / IN / IS NOT NULL / comparison conjuncts
    * (shape of q1.sql:7, q51.sql:7-8). All predicates push to parquet. */
  private val filterBetweenInNull: Q = (s, dir) => {
    val li = t(s, dir)("lineitem")
    li.filter(
        col("l_quantity").between(10, 30) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_shipdate").isNotNull &&
        col("l_discount") < 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // --------------------------------------------------------------- joins
  /** Row 4: multi-way inner star join (q64-style): fact ⋈ fact on
    * orderkey, then dims by broadcast — region/nation/customer/supplier/
    * part never shuffle the fact side. */
  private val joinInnerMultiway: Q = (s, dir) => {
    val li = t(s, dir)("lineitem")
    val o  = t(s, dir)("orders")
    val c  = broadcast(t(s, dir)("customer"))
    val n  = broadcast(t(s, dir)("nation"))
    val r  = broadcast(t(s, dir)("region"))
    val p  = broadcast(t(s, dir)("part"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(col("o_orderstatus") === "F" && col("p_size") > 10)
      .groupBy("r_name", "n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("r_name", "n_name")
  }

  /** Row 5: LEFT OUTER JOIN preserving customers with no orders
    * (q80-shape). count(o_orderkey) ignores the null-extended rows in
    * both engines. */
  private val joinLeftOuter: Q = (s, dir) => {
    val c = t(s, dir)("customer")
    val o = t(s, dir)("orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Row 6: FULL OUTER JOIN of two aggregated sides on a shared key
    * (q51 shape: web_v1 FULL OUTER JOIN store_v1), with coalesced key
    * output. Sort-merge join — full outer is never broadcastable. */
  private val joinFullOuter: Q = (s, dir) => {
    val cAgg = t(s, dir)("customer")
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val sAgg = t(s, dir)("supplier")
      .groupBy(col("s_nationkey").as("nk2"))
      .agg(count(lit(1)).as("n_supp"))
    cAgg.join(sAgg, col("nk") === col("nk2"), "full_outer")
      .select(
        coalesce(col("nk"), col("nk2")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** Row 7: semi-join (EXISTS / IN-subquery, q10/q16 shape). left_semi
    * keeps orders with at least one high-quantity line, emitting each
    * at most once; the probe side is the distinct key stream. */
  private val joinSemi: Q = (s, dir) => {
    val o  = t(s, dir)("orders")
    val li = t(s, dir)("lineitem").filter(col("l_quantity") > 45)
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Row 8: anti-join (NOT EXISTS, q16/q69 shape): customers that never
    * placed an urgent order. The filter on the build side runs before
    * the anti-join, shrinking the hash table. */
  private val joinAnti: Q = (s, dir) => {
    val c = t(s, dir)("customer")
    val o = t(s, dir)("orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Row 10: cross join of two tiny distinct sets (expression-only join;
    * Trino CrossJoin_* vocab). Both sides are sub-kilobyte — broadcast
    * nested loop, never a shuffle. */
  private val joinCross: Q = (s, dir) => {
    val r  = t(s, dir)("region").select("r_name")
    val st = t(s, dir)("orders").select("o_orderstatus").distinct()
    r.crossJoin(st).orderBy("r_name", "o_orderstatus")
  }

  // ----------------------------------------------------------- aggregate
  /** Row 14-15: grouped sum/avg/min/max/count (TPC-H q1 pricing-summary
    * shape — the canonical partial+final HashAggregate). */
  private val aggGroupbyBasic: Q = (s, dir) => {
    t(s, dir)("lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        davg(col("l_discount")).as("avg_disc"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Row 19: HAVING — post-aggregation filter (q23 shape). */
  private val aggHaving: Q = (s, dir) => {
    t(s, dir)("orders")
      .groupBy("o_custkey")
      .agg(dsum(col("o_totalprice")).as("spent"),
        count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 3 && col("spent") > 50000.0)
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- sort
  /** Row 24: multi-key ORDER BY with a CASE expression key
    * (q36.sql:22-26 shape). */
  private val sortMultikeyExpr: Q = (s, dir) => {
    t(s, dir)("orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy(
        when(col("o_orderpriority") === "1-URGENT", 0).otherwise(1).asc,
        col("o_totalprice").desc,
        col("o_orderkey").asc)
  }

  /** Row 25: ORDER BY + LIMIT → TakeOrderedAndProject (top-k without a
    * global sort: per-partition heaps, merged on the driver). */
  private val topkLimit: Q = (s, dir) => {
    t(s, dir)("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  // ------------------------------------------------------------- set ops
  /** Row 26: UNION ALL of two branches with a discriminator column
    * (q14/q5 channel-union shape). */
  private val setUnionAll: Q = (s, dir) => {
    val c = t(s, dir)("customer")
      .select(lit("customer").as("side"), col("c_nationkey").as("nationkey"),
        col("c_acctbal").as("acctbal"))
    val su = t(s, dir)("supplier")
      .select(lit("supplier").as("side"), col("s_nationkey").as("nationkey"),
        col("s_acctbal").as("acctbal"))
    c.unionByName(su).orderBy("side", "nationkey", "acctbal")
  }

  /** Row 27: UNION with distinct semantics (q10/q35 variants) —
    * union + dedup planned as one hash aggregate over the concat. */
  private val setUnionDistinct: Q = (s, dir) => {
    val c = t(s, dir)("customer").select(col("c_nationkey").as("nationkey"))
    val su = t(s, dir)("supplier").select(col("s_nationkey").as("nationkey"))
    c.union(su).distinct().orderBy("nationkey")
  }

  /** Row 41: scalar subquery in the SELECT list (q6/q9 shape) — the
    * per-row global-aggregate lookup Catalyst plans as a broadcast of
    * the 1-row subquery result. */
  private val scalarSubquerySelect: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    // decimal-exact average so the scalar is bit-equal across engines
    s.sql(
      """SELECT o_orderkey, o_totalprice,
        |  o_totalprice - (
        |    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(*) FROM orders) AS delta,
        |  (SELECT COUNT(*) FROM lineitem) AS corpus_lines
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Row 28: INTERSECT (set semantics, q14/q38 shape). */
  private val setIntersect: Q = (s, dir) => {
    val c = t(s, dir)("customer").select(col("c_nationkey").as("nationkey"))
    val su = t(s, dir)("supplier").select(col("s_nationkey").as("nationkey"))
    c.intersect(su).orderBy("nationkey")
  }

  /** Row 29: EXCEPT (set difference; not in the TPC-DS corpus — declared
    * for completeness). */
  private val setExcept: Q = (s, dir) => {
    val o = t(s, dir)("orders")
      .select(date_trunc("day", col("o_orderdate")).as("d"))
    val li = t(s, dir)("lineitem")
      .select(date_trunc("day", col("l_shipdate")).as("d"))
    o.except(li).orderBy("d")
  }

  /** Row 30: SELECT DISTINCT (q38 shape). */
  private val distinctRows: Q = (s, dir) => {
    t(s, dir)("lineitem")
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  val queries: Map[String, Q] = Map(
    "scan_project"           -> scanProject,
    "filter_between_in_null" -> filterBetweenInNull,
    "join_inner_multiway"    -> joinInnerMultiway,
    "join_left_outer"        -> joinLeftOuter,
    "join_full_outer"        -> joinFullOuter,
    "join_semi"              -> joinSemi,
    "join_anti"              -> joinAnti,
    "join_cross"             -> joinCross,
    "agg_groupby_basic"      -> aggGroupbyBasic,
    "agg_having"             -> aggHaving,
    "sort_multikey_expr"     -> sortMultikeyExpr,
    "topk_limit"             -> topkLimit,
    "set_union_all"          -> setUnionAll,
    "set_union_distinct"     -> setUnionDistinct,
    "scalar_subquery_select" -> scalarSubquerySelect,
    "set_intersect"          -> setIntersect,
    "set_except"             -> setExcept,
    "distinct_rows"          -> distinctRows,
  )

  val oracles: Map[String, String] = Map(
    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "filter_between_in_null" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 30
        |  AND l_returnflag IN ('A','R')
        |  AND l_shipdate IS NOT NULL
        |  AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "join_inner_multiway" ->
      s"""SELECT r_name, n_name,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |JOIN part     ON l_partkey = p_partkey
         |WHERE o_orderstatus = 'F' AND p_size > 10
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "join_left_outer" ->
      s"""SELECT c_custkey, c_name,
         |  COUNT(o_orderkey) AS n_orders,
         |  ${sqlSum("COALESCE(o_totalprice, 0.0)")} AS total_spent
         |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name
         |ORDER BY c_custkey""".stripMargin,

    "join_full_outer" ->
      """SELECT COALESCE(nk, nk2) AS nationkey,
        |       COALESCE(n_cust, 0) AS n_cust,
        |       COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) a
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp
        |      FROM supplier GROUP BY s_nationkey) b
        |ON nk = nk2
        |ORDER BY nationkey""".stripMargin,

    "join_semi" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      """SELECT r_name, o_orderstatus
        |FROM (SELECT r_name FROM region) r
        |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) o
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "agg_groupby_basic" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_price,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  MIN(l_quantity) AS min_qty,
         |  MAX(l_extendedprice) AS max_price,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_having" ->
      s"""SELECT o_custkey, ${sqlSum("o_totalprice")} AS spent,
         |  COUNT(*) AS n_orders
         |FROM orders
         |GROUP BY o_custkey
         |HAVING COUNT(*) >= 3 AND ${sqlSum("o_totalprice")} > 50000.0
         |ORDER BY o_custkey""".stripMargin,

    "sort_multikey_expr" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders
        |ORDER BY CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END ASC,
        |         o_totalprice DESC, o_orderkey ASC""".stripMargin,

    "topk_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "set_union_all" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS side, c_nationkey AS nationkey,
        |         c_acctbal AS acctbal FROM customer
        |  UNION ALL
        |  SELECT 'supplier' AS side, s_nationkey AS nationkey,
        |         s_acctbal AS acctbal FROM supplier)
        |ORDER BY side, nationkey, acctbal""".stripMargin,

    "set_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "scalar_subquery_select" ->
      """SELECT o_orderkey, o_totalprice,
        |  o_totalprice - (
        |    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(*) FROM orders) AS delta,
        |  (SELECT COUNT(*) FROM lineitem) AS corpus_lines
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "set_except" ->
      """SELECT date_trunc('day', o_orderdate) AS d FROM orders
        |EXCEPT
        |SELECT date_trunc('day', l_shipdate) AS d FROM lineitem
        |ORDER BY d""".stripMargin,

    "distinct_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )
}
