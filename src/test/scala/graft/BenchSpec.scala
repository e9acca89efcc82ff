package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.report]] is pure in what a leg measured, so the records'
  * shape, the noisy rule and the probe ratio are pinned here without a
  * SparkSession. */
class BenchSpec extends AnyFunSuite {
  private val conf = Session.resolve(Map.empty,
    Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"), cores = 4)
  private val probes = Seq(0.30, 0.45, 0.60, 0.25)

  private def parse(s: String): JsonNode = new ObjectMapper().readTree(s)

  private def report(timed: Seq[(String, Double)], warmup: Map[String, Double] = Map.empty,
      sf: String = "/data/sf0.1") = Bench.report(sf, timed, warmup, probes, conf, 1L)

  test("307 keys: the final line stays under 2 KB and carries the summary fields") {
    // longer than the longest suite key (34 chars), slowest last
    val timed = (1 to 307).map(i => f"bench_synthetic_padded_key_name_$i%03d" -> i * 1.5)
    val summary = report(timed).summary
    assert(summary.getBytes("UTF-8").length <= 2048, summary.length)
    val j = parse(summary)
    for (f <- Seq("value", "n_queries", "n_failed", "n_noisy", "host_load_factor",
        "conf", "run_id", "sf"))
      assert(j.has(f), f)
    assert(j.get("n_queries").asInt === 307)
    assert(j.get("queries").size === 20)
    assert(j.get("conf").get("spark.sql.autoBroadcastJoinThreshold").asText === "-1")
    val file = parse(report(timed).file)
    assert(file.get("queries").size === 307)
    assert(file.has("probes") && file.has("noisy") && file.has("workload_rev"))
  }

  test("a key over 3x its warmup is flagged noisy and publishes its timed pass") {
    val rep = report(Seq("a_noisy" -> 3.5, "b_steady" -> 2.9, "c_failed" -> -1.0),
      Map("a_noisy" -> 1.0, "b_steady" -> 1.0, "c_failed" -> 1.0))
    val file = parse(rep.file)
    assert(file.get("noisy").size === 1)
    assert(file.get("noisy").get("a_noisy").get("timed").asDouble === 3.5)
    assert(file.get("noisy").get("a_noisy").get("warmup").asDouble === 1.0)
    assert(file.get("queries").get("a_noisy").asDouble === 3.5)
    assert(file.get("n_noisy").asInt === 1)
    assert(file.get("n_failed").asInt === 1)
    assert(parse(rep.summary).get("n_noisy").asInt === 1)
  }

  test("host_load_factor is the worst probe over the best") {
    val file = parse(report(Seq("k" -> 1.0)).file)
    assert(file.get("host_load_factor").asDouble === 2.4)
    assert(file.get("n_probes").asInt === 4)
    assert(file.get("calibration_max_s").asDouble === 0.6)
  }

  test("an sf path with quotes and backslashes round-trips") {
    val sf = "/data/\"odd\"\\dir\n"
    val rep = report(Seq("k" -> 1.0), sf = sf)
    for (line <- Seq(rep.perQuery, rep.summary, rep.file))
      assert(parse(line).get("sf").asText === sf)
  }
}
