package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Link-graph authority scoring over the corpus's citation structure
  * (north-star extension): PageRank (Page, Brin, Motwani & Winograd
  * 1999) over the source→domain link graph that [[TextAnalysis
  * .urlExtract]] recovers from document text — the crawl-curation
  * signal behind "seed-quality" domain weighting (e.g. OpenWebText's
  * link-karma filter family).
  *
  * Scale design: the edge frame is DOMAIN-cardinality-bounded (one
  * groupBy over extracted links), never corpus-sized; each power
  * iteration is one equi-join rank⋈edges on the src key plus one
  * dst-key groupBy — the label-propagation shape [[Dedup
  * .nearDupClusters]] already proves out, with eager localCheckpoints
  * cutting lineage per round. Dangling mass (nodes without
  * out-edges) is one broadcast scalar per iteration.
  *
  * Skew pre-flight (web graphs follow a power law — a few mega-hub
  * domains receive a large share of all links, and the per-iteration
  * inflow groupBy shuffles on exactly that dst key): BEFORE iterating
  * a new graph, run [[graft.operators.Scale.keySkewReport]] on the
  * edge frame's `dst` column ([[degreeStats]] gives the per-node
  * in/out view of the same signal). A top key whose `skew_x`
  * approaches the shuffle width means one reducer carries that hub's
  * whole inflow; LinkGraphSpec pins the report on a deliberately
  * hub-skewed graph.
  *
  * Determinism: ranks live in integer micro-units; every per-edge
  * contribution is rounded to a BIGINT before the (order-free)
  * integer sum, and the only float steps are correctly-rounded IEEE
  * multiply/divide chains evaluated in the same association order as
  * the DuckDB oracle's recursive CTE — so a fixed iteration count
  * reproduces bit-identically on any partitioning and both engines. */
object LinkGraph {

  /** Power-iteration PageRank over a weighted edge frame
    * (src, dst, w), damping 0.85, fixed `iters` rounds; returns
    * (node, r) in micro-units. With `teleport` (node, tm — micro
    * units summing to 1e6) the restart AND the dangling
    * redistribution follow that vector instead of the uniform one —
    * personalized/topic-sensitive PageRank (Haveliwala WWW 2002),
    * the "trusted seed domains" variant of the authority signal.
    * Nodes absent from the teleport frame get zero restart mass. */
  def pageRank(edges: DataFrame, iters: Int = 10,
      teleport: Option[DataFrame] = None): DataFrame =
    // wantReport=false: the fixed-iteration gated path pays zero extra
    // jobs — deltas are only measured when a caller asks for them
    prImpl(edges, iters, teleport, tolMicro = 0L, wantReport = false)._1

  /** [[pageRank]] plus a convergence report: per-iteration L1 movement
    * Σ|r_i − r_{i−1}| in micro-units — one tiny node-cardinality agg
    * per round over the frames each iteration already materializes.
    * With `tolMicro > 0` the loop stops at the first iteration whose
    * movement falls to or below the tolerance (geometric decay at
    * rate ≈ damping guarantees this terminates); the gated keys keep
    * the fixed-iteration call so the DuckDB recursive-CTE oracle
    * stays bit-identical. */
  def pageRankWithReport(edges: DataFrame, maxIters: Int = 10,
      tolMicro: Long = 0L): (DataFrame, Seq[(Int, Long)]) =
    prImpl(edges, maxIters, None, tolMicro, wantReport = true)

  private def prImpl(edges: DataFrame, maxIters: Int,
      teleport: Option[DataFrame], tolMicro: Long,
      wantReport: Boolean): (DataFrame, Seq[(Int, Long)]) = {
    // The edge frame is checkpointed ONCE before iterating (r10): the
    // loop bodies below are each materialized eagerly (localCheckpoint
    // per round cuts lineage), so a lazy `e` re-runs its whole
    // derivation DAG — corpus-sized for [[fixtureEdges]], which
    // extracts URLs from every document — in EVERY round's contrib
    // join AND dangling anti-join: ~2·iters corpus scans per call
    // where one suffices. [[Dedup.nearDupClusters]] already
    // checkpoints its edges for exactly this reason; same move here.
    // outw (node-cardinality-bounded) is consumed twice per round —
    // checkpointed too.
    val e = edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w"))
      .localCheckpoint(true)
    val outw = e.groupBy("src").agg(sum("w").as("ow"))
      .localCheckpoint(true)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nRow = nodes0.agg(count(lit(1)).as("n"))
    // per-node teleport mass: the given vector, or uniform 1e6/n
    val nodes = teleport match {
      case Some(t) => nodes0
        .join(t.select(col("node"), col("tm").cast("long").as("tm")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("tm"), lit(0L)).as("tm"))
        .localCheckpoint(true)
      case None => nodes0.crossJoin(broadcast(nRow))
        .select(col("node"), round(lit(1e6) / col("n")).cast("long").as("tm"))
        .localCheckpoint(true)
    }
    var ranks = nodes.select(col("node"), col("tm").as("r"))
      .localCheckpoint(true)
    val deltas = Seq.newBuilder[(Int, Long)]
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val contrib = ranks.join(e, col("node") === col("src"))
        .join(outw, "src")
        .select(col("dst").as("node"),
          round(lit(0.85) * col("r") * col("w") / col("ow"))
            .cast("long").as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
      val dang = ranks.join(outw, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L)).as("dang"))
      val prev = ranks
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (round(lit(0.15) * col("tm")).cast("long")
            + coalesce(col("inflow"), lit(0L))
            + round(lit(0.85) * col("dang") * col("tm") / lit(1e6))
              .cast("long"))
            .as("r"))
        .localCheckpoint(true)
      i += 1
      if (wantReport) {
        val delta = ranks.join(prev.withColumnRenamed("r", "rp"), "node")
          .agg(coalesce(sum(abs(col("r") - col("rp"))), lit(0L)).as("d"))
          .head().getLong(0)
        deltas += ((i, delta))
        converged = tolMicro > 0 && delta <= tolMicro
      }
    }
    (ranks, deltas.result())
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a weighted
    * edge frame (src, dst, w), fixed `iters` rounds of the standard
    * sequential update — authorities from CURRENT hubs, then hubs from
    * the NEW authorities — each half-step L1-normalized to 1e6
    * micro-units. Returns (node, hub_micro, auth_micro).
    *
    * Determinism: raw scores are exact integer sums of w·score
    * products (order-free); each normalization is the single float
    * expression round(1e6 · raw / total) — the same correctly-rounded
    * IEEE multiply/divide discipline as [[pageRank]], so a fixed
    * iteration count reproduces bit-identically on any partitioning
    * and matches the DuckDB oracle, whose recursive CTE expresses the
    * two half-steps as parity-alternating recursion levels.
    *
    * Scale shape: per half-step one src- or dst-keyed equi-join +
    * groupBy over the domain-bounded edge frame, one broadcast scalar
    * (the L1 total), eager localCheckpoint lineage cuts — the
    * [[pageRank]] iteration shape with two shuffles per round instead
    * of one. The same skew pre-flight applies (hub domains are hot
    * dst keys by definition — see the object note). */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame =
    // wantReport=false: the fixed-iteration gated path pays zero extra
    // jobs — the oracle CTE's parity levels stay bit-identical
    hitsImpl(edges, iters, tolMicro = 0L, wantReport = false)._1

  /** [[hits]] plus a convergence report — the [[pageRankWithReport]]
    * contract for the two-score iteration: per round, the L1 movement
    * Σ|s_i − s_{i−1}| of EACH half-step (auth first, then hub) in
    * micro-units, measured by one node-cardinality agg over the frames
    * each half-step already materializes. With `tolMicro > 0` the loop
    * stops after the first round where BOTH half-step movements fall
    * to or below the tolerance (principal-eigenvector power iteration
    * converges geometrically, so this terminates); the gated
    * `graph_hits` key keeps the fixed-iteration [[hits]] call so the
    * parity-alternating DuckDB recursive-CTE oracle stays
    * bit-identical. Returns (scores, Seq((round, auth_l1, hub_l1))). */
  def hitsWithReport(edges: DataFrame, maxIters: Int = 10,
      tolMicro: Long = 0L): (DataFrame, Seq[(Int, Long, Long)]) =
    hitsImpl(edges, maxIters, tolMicro, wantReport = true)

  private def hitsImpl(edges: DataFrame, maxIters: Int, tolMicro: Long,
      wantReport: Boolean): (DataFrame, Seq[(Int, Long, Long)]) = {
    // edge frame checkpointed once before iterating — see [[prImpl]]:
    // each of the 2·iters half-step materializations would otherwise
    // re-run the (corpus-sized, for the fixture) edge derivation DAG
    val e = edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val nRow = nodes.agg(count(lit(1)).as("n"))
    val init = nodes.crossJoin(broadcast(nRow))
      .select(col("node"), round(lit(1e6) / col("n")).cast("long").as("s"))
      .localCheckpoint(true)
    // (node, raw) over the nodes WITH inflow; missing nodes score 0.
    // One broadcast scalar for the L1 total, then the fixed float
    // rounding step round(1e6 · raw / total) on every node.
    def normalized(raw: DataFrame): DataFrame = {
      val total = raw.agg(coalesce(sum("raw"), lit(0L)).as("t"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(total))
        .select(col("node"),
          when(col("t") > 0,
            round(lit(1e6) * coalesce(col("raw"), lit(0L)) / col("t"))
              .cast("long"))
            .otherwise(lit(0L)).as("s"))
        .localCheckpoint(true)
    }
    def l1Move(cur: DataFrame, prev: DataFrame): Long =
      cur.join(prev.withColumnRenamed("s", "sp"), "node")
        .agg(coalesce(sum(abs(col("s") - col("sp"))), lit(0L)).as("d"))
        .head().getLong(0)
    var hub = init
    var auth = init
    val deltas = Seq.newBuilder[(Int, Long, Long)]
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val prevAuth = auth
      val prevHub = hub
      auth = normalized(
        hub.join(e, col("node") === col("src"))
          .groupBy(col("dst").as("node2"))
          .agg(sum(col("w") * col("s")).as("raw"))
          .select(col("node2").as("node"), col("raw")))
      hub = normalized(
        auth.join(e, col("node") === col("dst"))
          .groupBy(col("src").as("node2"))
          .agg(sum(col("w") * col("s")).as("raw"))
          .select(col("node2").as("node"), col("raw")))
      i += 1
      if (wantReport) {
        val da = l1Move(auth, prevAuth)
        val dh = l1Move(hub, prevHub)
        deltas += ((i, da, dh))
        converged = tolMicro > 0 && da <= tolMicro && dh <= tolMicro
      }
    }
    (hub.select(col("node"), col("s").as("hub_micro"))
      .join(auth.select(col("node"), col("s").as("auth_micro")), "node"),
      deltas.result())
  }

  type Q = (SparkSession, String) => DataFrame

  /** Degree/strength report of a weighted edge frame — the data-card
    * row for a link graph (degree skew decides whether the dst-key
    * groupBys above need salting). Two edge-key groupBys + outer
    * joins onto the node set; domain-bounded throughout. */
  def degreeStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val outs = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum("w").as("out_w"))
    val ins = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum("w").as("in_w"))
    e.select(col("src").as("node")).union(e.select(col("dst"))).distinct()
      .join(outs, Seq("node"), "left")
      .join(ins, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Fixture link graph: (citing doc's source, linked domain) with
    * link-count weights — the Spark side EXTRACTS links from text
    * (urlExtract) while the oracle re-derives the same planted edges
    * arithmetically, so the two paths cross-check each other. */
  private[graft] def fixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    TextAnalysis.urlExtract(TextAnalysis.plantedUrls(s, dir))
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source").as("src"), col("domain").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private val graphDomainRank: Q = (s, dir) =>
    pageRank(fixtureEdges(s, dir), 10)
      .select(col("node"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("node"))

  /** Personalized variant: restart mass follows each source's share
    * of the corpus (the "trust the big curated seeds" weighting);
    * domains get zero restart and hold only flowed-in authority. */
  private val graphPersonalizedRank: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
    val total = d.agg(count(lit(1)).as("tot"))
    val tele = d.groupBy(col("source").as("node"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col("node"),
        round(lit(1e6) * col("cnt") / col("tot")).cast("long").as("tm"))
    pageRank(fixtureEdges(s, dir), 10, Some(tele))
      .select(col("node"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("node"))
  }

  private val graphDegreeStats: Q = (s, dir) =>
    degreeStats(fixtureEdges(s, dir)).orderBy("node")

  private val graphHits: Q = (s, dir) =>
    hits(fixtureEdges(s, dir), 10)
      .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("node"))

  val queries: Map[String, Q] = Map(
    "graph_domain_rank"  -> graphDomainRank,
    "graph_personalized_rank" -> graphPersonalizedRank,
    "graph_degree_stats" -> graphDegreeStats,
    "graph_hits" -> graphHits,
  )

  /** Shared oracle edge derivation (arithmetic re-statement of the
    * planted URL fixture). */
  private val edgesSql: String =
    """links AS (
      |  SELECT d.source AS src,
      |    'site' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.com'
      |      AS dst
      |  FROM documents d WHERE d.doc_id % 9 = 0
      |  UNION ALL
      |  SELECT d.source, 'blocked.example.net' FROM documents d
      |  WHERE d.doc_id % 18 = 0),
      |edges AS (SELECT src, dst, COUNT(*) AS w FROM links
      |          GROUP BY src, dst)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_degree_stats" ->
      s"""WITH $edgesSql,
         |outs AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
         |         CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
         |ins AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg,
         |        CAST(SUM(w) AS BIGINT) AS in_w FROM edges GROUP BY dst),
         |nodes AS (SELECT DISTINCT src AS node FROM edges
         |          UNION SELECT DISTINCT dst FROM edges)
         |SELECT n.node,
         |  COALESCE(o.out_deg, 0) AS out_deg,
         |  COALESCE(o.out_w, 0) AS out_w,
         |  COALESCE(i.in_deg, 0) AS in_deg,
         |  COALESCE(i.in_w, 0) AS in_w
         |FROM nodes n LEFT JOIN outs o USING(node)
         |LEFT JOIN ins i USING(node)
         |ORDER BY n.node""".stripMargin,

    "graph_domain_rank" -> pageRankSql(
      """SELECT node, CAST(ROUND(1e6 / (SELECT COUNT(*) FROM nodes))
        |    AS BIGINT) AS tm FROM nodes""".stripMargin),

    "graph_personalized_rank" -> pageRankSql(
      """SELECT n.node, COALESCE(s.tm, 0) AS tm FROM nodes n
        |  LEFT JOIN (
        |    SELECT source AS node,
        |      CAST(ROUND(1e6 * COUNT(*) / (SELECT COUNT(*)
        |        FROM documents)) AS BIGINT) AS tm
        |    FROM documents GROUP BY source) s ON n.node = s.node""".stripMargin),

    // HITS as a parity-alternating recursive CTE: iter 2k−1 is round
    // k's authority half-step (from the CURRENT hubs), iter 2k its hub
    // half-step (from the JUST-updated authorities) — the standard
    // sequential update; 20 levels = 10 full rounds. Each half-step's
    // L1 total is the same GROUP BY subquery the per-node numerator
    // uses, so the normalization can never drift from the mass.
    "graph_hits" ->
      s"""WITH RECURSIVE $edgesSql,
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |hits AS (
         |  SELECT 0 AS iter, node,
         |    CAST(ROUND(1e6 / (SELECT COUNT(*) FROM nodes)) AS BIGINT) AS h,
         |    CAST(ROUND(1e6 / (SELECT COUNT(*) FROM nodes)) AS BIGINT) AS a
         |  FROM nodes
         |  UNION ALL
         |  SELECT p.iter + 1, p.node,
         |    CASE WHEN (p.iter % 2) = 1 THEN
         |      CASE WHEN (SELECT SUM(raw) FROM (
         |          SELECT CAST(SUM(e.w * p2.a) AS BIGINT) AS raw
         |          FROM hits p2 JOIN edges e ON p2.node = e.dst
         |          WHERE p2.iter = p.iter GROUP BY e.src) rh) > 0
         |      THEN CAST(ROUND(1e6 * COALESCE((
         |          SELECT CAST(SUM(e.w * p2.a) AS BIGINT)
         |          FROM hits p2 JOIN edges e ON p2.node = e.dst
         |            AND e.src = p.node
         |          WHERE p2.iter = p.iter), 0)
         |        / (SELECT SUM(raw) FROM (
         |          SELECT CAST(SUM(e.w * p2.a) AS BIGINT) AS raw
         |          FROM hits p2 JOIN edges e ON p2.node = e.dst
         |          WHERE p2.iter = p.iter GROUP BY e.src) rh))
         |        AS BIGINT)
         |      ELSE 0 END
         |    ELSE p.h END AS h,
         |    CASE WHEN (p.iter % 2) = 0 THEN
         |      CASE WHEN (SELECT SUM(raw) FROM (
         |          SELECT CAST(SUM(e.w * p2.h) AS BIGINT) AS raw
         |          FROM hits p2 JOIN edges e ON p2.node = e.src
         |          WHERE p2.iter = p.iter GROUP BY e.dst) ra) > 0
         |      THEN CAST(ROUND(1e6 * COALESCE((
         |          SELECT CAST(SUM(e.w * p2.h) AS BIGINT)
         |          FROM hits p2 JOIN edges e ON p2.node = e.src
         |            AND e.dst = p.node
         |          WHERE p2.iter = p.iter), 0)
         |        / (SELECT SUM(raw) FROM (
         |          SELECT CAST(SUM(e.w * p2.h) AS BIGINT) AS raw
         |          FROM hits p2 JOIN edges e ON p2.node = e.src
         |          WHERE p2.iter = p.iter GROUP BY e.dst) ra))
         |        AS BIGINT)
         |      ELSE 0 END
         |    ELSE p.a END AS a
         |  FROM hits p WHERE p.iter < 20)
         |SELECT node, h AS hub_micro, a AS auth_micro
         |FROM hits WHERE iter = 20
         |ORDER BY auth_micro DESC, hub_micro DESC, node""".stripMargin,
  )

  /** Shared recursive-CTE PageRank oracle, parameterized ONLY by the
    * teleport-vector CTE body (uniform vs personalized keys can never
    * drift in the iteration arithmetic). */
  private def pageRankSql(teleSql: String): String =
    s"""WITH RECURSIVE $edgesSql,
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges
       |         GROUP BY src),
       |nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |tele AS ($teleSql),
       |pr AS (
       |  SELECT 0 AS iter, node, tm AS r FROM tele
       |  UNION ALL
       |  SELECT p.iter + 1, p.node,
       |    CAST(ROUND(0.15 * t.tm) AS BIGINT)
       |    + COALESCE((SELECT CAST(SUM(CAST(ROUND(0.85 * p2.r * e.w
       |          / o.ow) AS BIGINT)) AS BIGINT)
       |        FROM pr p2 JOIN edges e ON p2.node = e.src
       |          AND e.dst = p.node
       |        JOIN outw o ON o.src = p2.node
       |        WHERE p2.iter = p.iter), 0)
       |    + CAST(ROUND(0.85 * (SELECT CAST(SUM(p3.r) AS BIGINT)
       |        FROM pr p3
       |        LEFT JOIN outw o2 ON p3.node = o2.src
       |        WHERE p3.iter = p.iter AND o2.src IS NULL)
       |        * t.tm / 1e6)
       |      AS BIGINT) AS r
       |  FROM pr p JOIN tele t ON p.node = t.node
       |  WHERE p.iter < 10)
       |SELECT node, r AS rank_micro FROM pr WHERE iter = 10
       |ORDER BY rank_micro DESC, node""".stripMargin
}
