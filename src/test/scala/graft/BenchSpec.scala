package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("compact line: odd sf paths stay valid JSON, bad CPU counts fall back") {
    val sf = """/data/sf "0.1"\dir"""
    val line = Bench.compactLine(12.5, 236, 1, Some("eight"), 4, sf)
    assert(!line.contains("\n"))
    val node = new ObjectMapper().readTree(line)
    assert(node.get("sf").asText == sf)
    assert(node.get("cpus").isInt && node.get("cpus").asInt == 4)
    assert(node.get("value").asDouble == 12.5)
    assert(node.get("n").asInt == 236 && node.get("n_errors").asInt == 1)
    assert(node.get("stats_file").asText == "bench_timings.json")

    def cpus(env: Option[String]): Int = new ObjectMapper()
      .readTree(Bench.compactLine(1.0, 1, 0, env, 4, "/sf")).get("cpus").asInt
    assert(cpus(Some("32")) == 32)
    assert(cpus(Some(" 8 ")) == 8)
    assert(cpus(Some("*")) == 4)
    assert(cpus(Some("0")) == 4)
    assert(cpus(None) == 4)
  }
}
