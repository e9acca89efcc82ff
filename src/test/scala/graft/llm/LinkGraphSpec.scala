package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior pins for PageRank; the value-level gate is the DuckDB
  * recursive-CTE oracle on `graph_domain_rank`. */
class LinkGraphSpec extends SparkSpec {

  import spark.implicits._

  test("pageRank: heavily-cited node ranks first, mass roughly conserved") {
    // ring of satellites, each also citing the hub (dangling): no
    // 2-cycle, so 10 damped iterations are near the fixed point
    val edges = Seq(
      ("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L), ("d", "a", 1L),
      ("a", "hub", 1L), ("b", "hub", 1L), ("c", "hub", 1L),
      ("d", "hub", 1L)
    ).toDF("src", "dst", "w")
    val r = LinkGraph.pageRank(edges, 10).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    Seq("a", "b", "c", "d").foreach { s =>
      assert(r("hub") > r(s), s"the cited hub must outrank satellite $s")
    }
    assert(Seq("a", "b", "c", "d").map(r).distinct.size == 1,
      "symmetric ring nodes tie exactly")
    val total = r.values.sum
    assert(math.abs(total - 1000000L) < 100,
      s"rank mass must stay ~1e6 micro (got $total)")
  }

  test("pageRank: dangling mass is redistributed, not lost") {
    // chain into a sink: a -> b -> sink (sink has no out-edges)
    val edges = Seq(("a", "b", 1L), ("b", "sink", 1L))
      .toDF("src", "dst", "w")
    val r = LinkGraph.pageRank(edges, 10).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val total = r.values.sum
    assert(math.abs(total - 1000000L) < 100,
      s"dangling sink must not leak mass (got $total)")
    assert(r("sink") > r("b") && r("b") > r("a"),
      "rank must flow down the chain")
  }

  test("pageRank is partitioning-invariant (integer micro arithmetic)") {
    val edges = Seq(
      ("a", "b", 2L), ("b", "c", 1L), ("c", "a", 3L), ("a", "c", 1L)
    ).toDF("src", "dst", "w")
    val one = LinkGraph.pageRank(edges.coalesce(1), 7).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val many = LinkGraph.pageRank(edges.repartition(13), 7).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(one == many, "per-edge micro rounding makes sums order-free")
  }

  test("personalized pageRank: restart mass steers authority") {
    // two cliques; all teleport mass on a's side must rank a-side up
    val edges = Seq(
      ("a1", "a2", 1L), ("a2", "a1", 1L),
      ("b1", "b2", 1L), ("b2", "b1", 1L)
    ).toDF("src", "dst", "w")
    val tele = Seq(("a1", 500000L), ("a2", 500000L))
      .toDF("node", "tm")
    val r = LinkGraph.pageRank(edges, 10, Some(tele)).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("a1") > r("b1") && r("a2") > r("b2"),
      "zero-teleport nodes must fall below seeded ones")
    assert(r("b1") == 0L && r("b2") == 0L,
      "an unreachable-from-seed clique with zero restart drains to 0")
    assert(r("a1") == r("a2"), "symmetric seeded nodes tie")
  }

  test("degreeStats: sources are pure out-nodes, domains pure in-nodes") {
    val r = LinkGraph.queries("graph_degree_stats")(spark, sfCorrect)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val node = row.getString(0)
      val outDeg = row.getLong(row.fieldIndex("out_deg"))
      val inDeg = row.getLong(row.fieldIndex("in_deg"))
      if (node.startsWith("src")) assert(outDeg > 0 && inDeg == 0, row.toString)
      else assert(outDeg == 0 && inDeg > 0, row.toString)
      assert(row.getLong(row.fieldIndex("out_w")) >= outDeg &&
        row.getLong(row.fieldIndex("in_w")) >= inDeg,
        "weighted strength can never undercut degree")
    }
  }

  test("convergence report: geometric decay, 10-vs-11 within tolerance, early stop") {
    val edges = LinkGraph.fixtureEdges(spark, sfCorrect)
    val (r11, report) = LinkGraph.pageRankWithReport(edges, maxIters = 11)
    assert(report.map(_._1) == (1 to 11), "one delta row per iteration")
    // damped power iteration: L1 movement decays geometrically — the
    // tail delta must sit far below the early ones
    val d = report.map(_._2)
    assert(d.last < d.head / 4, s"no decay visible: $d")
    // the gated fixed-10 call is converged: iteration 11 moves the
    // vector by under 1% of the 1e6 total mass
    assert(d.last < 10000L, s"iter-11 L1 delta ${d.last} micro — not converged at 10")
    // and the 10-iteration gated ranks agree with the 11-iteration
    // ones within that same per-node tolerance
    val r10 = LinkGraph.pageRank(edges, 10).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val l1 = r11.collect().map(x => math.abs(x.getLong(1) - r10(x.getString(0)))).sum
    assert(l1 == d.last, "reported delta IS the 10-vs-11 L1 distance")
    // early stop: a generous tolerance halts before maxIters and the
    // result matches the fixed-iteration call at the stop round
    val (rEarly, repEarly) = LinkGraph.pageRankWithReport(
      edges, maxIters = 50, tolMicro = 50000L)
    assert(repEarly.size < 50, s"never converged: ${repEarly.size} iters")
    val fixed = LinkGraph.pageRank(edges, repEarly.size).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val early = rEarly.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(early == fixed, "early-stopped ranks = fixed-iteration ranks at the stop round")
  }

  test("HITS: matches a driver-side replica exactly; sources get zero authority") {
    import spark.implicits._
    val edgeSeq = Seq(("s1", "d1", 1L), ("s1", "d2", 2L), ("s2", "d1", 3L),
      ("s2", "d3", 1L), ("s3", "d2", 5L))
    val got = LinkGraph.hits(edgeSeq.toDF("src", "dst", "w"), 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver-side replica of the exact arithmetic: integer raw sums,
    // round(1e6 * raw / total) per half-step
    val nodes = (edgeSeq.map(_._1) ++ edgeSeq.map(_._2)).distinct.sorted
    val init = math.round(1e6 / nodes.size).toDouble
    var h = nodes.map(_ -> init).toMap
    var a = nodes.map(_ -> init).toMap
    def half(score: Map[String, Double], auth: Boolean): Map[String, Double] = {
      val raw = edgeSeq.groupBy(e => if (auth) e._2 else e._1)
        .map { case (v, es) =>
          v -> es.map(e => e._3 * score(if (auth) e._1 else e._2).toLong).sum }
      val t = raw.values.sum
      nodes.map(v => v ->
        math.round(1e6 * raw.getOrElse(v, 0L) / t.toDouble).toDouble).toMap
    }
    (1 to 10).foreach { _ => a = half(h, auth = true); h = half(a, auth = false) }
    val expect = nodes.map(v => v -> (h(v).toLong, a(v).toLong)).toMap
    assert(got === expect)
    // pure sources hold zero authority; pure sinks zero hubness;
    // each vector's mass is ~1e6 (rounding slack)
    Seq("s1", "s2", "s3").foreach(v => assert(got(v)._2 === 0L))
    Seq("d1", "d2", "d3").foreach(v => assert(got(v)._1 === 0L))
    assert(math.abs(got.values.map(_._2).sum - 1000000L) <= 5)
    assert(math.abs(got.values.map(_._1).sum - 1000000L) <= 5)
  }

  test("HITS convergence report: decaying half-step deltas, early stop == fixed-count") {
    import spark.implicits._
    val edges = Seq(("s1", "d1", 1L), ("s1", "d2", 2L), ("s2", "d1", 3L),
      ("s2", "d3", 1L), ("s3", "d2", 5L)).toDF("src", "dst", "w")
    val (r10, report) = LinkGraph.hitsWithReport(edges, maxIters = 10)
    assert(report.map(_._1) == (1 to 10), "one (auth, hub) delta row per round")
    // power iteration toward the principal eigenvectors: the tail
    // round must move far less than the first on both half-steps
    assert(report.last._2 < math.max(1L, report.head._2),
      s"auth deltas not decaying: $report")
    assert(report.last._2 + report.last._3 <
      (report.head._2 + report.head._3) / 4, s"no decay visible: $report")
    // report path == plain fixed-iteration path (wantReport adds
    // measurement jobs, never different arithmetic)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(r10) === m(LinkGraph.hits(edges, 10)))
    // early stop: a generous tolerance halts before maxIters and the
    // scores equal the fixed-iteration call at the stop round (the
    // gated graph_hits key keeps fixed 10 for the CTE oracle)
    val (rEarly, repEarly) = LinkGraph.hitsWithReport(
      edges, maxIters = 50, tolMicro = 20000L)
    assert(repEarly.size < 50, s"never converged: ${repEarly.size} rounds")
    assert(m(rEarly) === m(LinkGraph.hits(edges, repEarly.size)),
      "early-stopped scores = fixed-iteration scores at the stop round")
  }

  test("graph_hits fixture key returns every node once, totally ordered") {
    val r = LinkGraph.queries("graph_hits")(spark, sfCorrect).collect()
    val nodes = LinkGraph.fixtureEdges(spark, sfCorrect)
      .selectExpr("src AS node").union(
        LinkGraph.fixtureEdges(spark, sfCorrect).selectExpr("dst"))
      .distinct().count()
    assert(r.length.toLong === nodes)
    assert(r.map(_.getString(0)).distinct.length === r.length)
  }

  test("skew pre-flight: keySkewReport flags the hub") {
    import graft.operators.Scale
    import spark.implicits._
    // web-graph shape: 900 of 1000 edges point at one mega-hub domain
    val edges = (1L to 1000L).map { i =>
      val dst = if (i <= 900) "hub.example.com" else s"site${i % 20}.example.com"
      (s"src$i", dst, 1L + i % 3)
    }.toDF("src", "dst", "w")
    // the pre-flight: the hub dominates the dst key distribution
    val top = Scale.keySkewReport(edges, "dst").orderBy(col("n").desc)
      .head()
    assert(top.getString(0) == "hub.example.com")
    assert(top.getDouble(3) > 5.0, // skew_x: count / mean-per-key
      s"hub skew_x ${top.getDouble(3)} should scream")
  }

  test("graph_domain_rank fixture returns every node once") {
    val r = LinkGraph.queries("graph_domain_rank")(spark, sfCorrect)
    val n = r.count()
    assert(n > 0 && r.select("node").distinct().count() == n)
    // the universally-cited blocked domain must rank first
    val top = r.orderBy(col("rank_micro").desc, col("node")).head()
    assert(top.getString(0) == "blocked.example.net",
      "every 18th doc cites it with weight 3 — it must top the ranking")
  }
}
