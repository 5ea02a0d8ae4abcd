package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics a run reports. */
class MetricsSpec extends AnyFunSuite {
  test("BENCHMARK.json lists the end-to-end and per-layer metrics of Metrics, with their units") {
    val json = Files.readString(Paths.get("..", "BENCHMARK.json"))
    def section(key: String, next: String): Seq[(String, String)] = {
      val body = json.substring(json.indexOf(s""""$key""""), json.indexOf(s""""$next"""") match {
        case -1 => json.length
        case i => i
      })
      """"name": "([^"]+)",\s*"unit": "([^"]+)"""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(section("end_to_end", "per_layer") == Metrics.endToEnd)
    assert(section("per_layer", "\u0000") == Metrics.perLayer)
  }
}
