package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two documents a [[Bench]] run writes — its one stdout line and
  * BENCH_DETAIL.json — pinned for a fixed run. The literals for a run
  * that needs no escaping are the exact text the earlier hand-built
  * templates produced, so every reader of the line and
  * `tools/bench_compare.py` see the same bytes as before. */
class BenchDocumentsSpec extends AnyFunSuite {

  private def run(sfDir: String) = Bench.Run(
    sfDir = sfDir,
    warmupSec = 12.3456,
    passLoads = Seq((1.5, 2.25), (2.25, 3.0)),
    finalLoad = 3.5,
    extCpuThreshold = 0.2,
    retried = Seq("q_b"),
    passTimes = Seq(
      "q_a" -> Seq((1.0, 1.5, 0.0), (0.9, 2.25, 0.05)),
      "q_b" -> Seq((2.0, 1.5, 0.3), (3.5, 2.25, 0.1), (2.4, 3.0, 0.0))),
    errors = Seq("q_c" -> "boom: \"quoted\" \\ path\nline"),
    prevTimes = Map("q_a" -> 0.5, "q_b" -> 2.1, "q_z" -> 1.0))

  test("line and detail keep their keys, key order and 3-decimal numbers") {
    val (line, detail) = Bench.documents(run("/data/sf0.1"))
    assert(line === """{"metric":"total","value":2.900,"unit":"sec","queries":{"q_a":0.900,"q_b":2.000},"errors":{"q_c":"boom: \"quoted\" \\ path\nline"},"sf":"/data/sf0.1","loadavg":3.500,"pass_loadavg":[[1.500,2.250],[2.250,3.000]],"warmup_sec":12.346,"retried":1,"movers_vs_prev":1}""")
    assert(detail === """{"sf":"/data/sf0.1","warmup_sec":12.346,"pass_loadavg":[[1.500,2.250],[2.250,3.000]],"final_loadavg":3.500,"ext_cpu_threshold":0.200,"retried":["q_b"],"movers_vs_prev":{"q_a":{"prev":0.500,"now":0.900}},"errors":{"q_c":"boom: \"quoted\" \\ path\nline"},"best_pass_loadavg":{"q_a":2.250,"q_b":1.500},"best_pass_external_cpu":{"q_a":0.050,"q_b":0.300},"pass_times":{"q_a":[1.000,0.900],"q_b":[2.000,3.500,2.400]}}""" + "\n")
  }

  test("an sf dir with a quote and a backslash is escaped in both documents") {
    val sfDir = "/data/\"odd\"\\sf"
    val (line, detail) = Bench.documents(run(sfDir))
    assert(line.contains(""","sf":"/data/\"odd\"\\sf","loadavg":3.500,"""), line)
    assert(detail.startsWith("""{"sf":"/data/\"odd\"\\sf","warmup_sec":12.346,"""), detail)
    Seq(line, detail).foreach(doc => assert(Json.read(doc).get("sf").asText === sfDir, doc))
  }

  test("a run's own detail reads back to its per-query minima") {
    val (_, detail) = Bench.documents(run("/data/sf0.1"))
    assert(Bench.previousTimes(detail) === Map("q_a" -> 0.9, "q_b" -> 2.0))
  }

  test("the committed BENCH_DETAIL.json reads back as the earlier regex read it") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_DETAIL.json")), "UTF-8")
    // the reader Bench used before the tree read, kept as the reference
    val re = """"([A-Za-z0-9_]+)":\[([0-9.,]+)\]""".r
    val expected = re.findAllMatchIn(txt).map { m =>
      m.group(1) -> m.group(2).split(",").flatMap(_.toDoubleOption).min
    }.toMap.filterNot { case (k, _) => k == "pass_loadavg" }
    assert(expected.size === 187)
    assert(Bench.previousTimes(txt) === expected)
  }
}
