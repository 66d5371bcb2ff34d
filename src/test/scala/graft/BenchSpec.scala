package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract: three JSON lines, the per-query detail,
  * then the per-family rollup, then the short total last.
  */
class BenchSpec extends AnyFunSuite {

  test("Bench prints detail, rollup, then total last; a failed query nulls its family") {
    val lines = Bench.lines(Seq(("q_a_x", 1.0, true), ("q_a_y", 0.5, false),
      ("q_b_z", 2.25, true)), nRuns = 2, sfDir = "sf")
    val json = lines.map(new ObjectMapper().readTree(_))
    assert(json.map(_.get("metric").asText) == Seq("detail", "rollup", "total"))
    val Seq(detail, rollup, total) = json
    assert(detail.get("queries").get("q_a_x").asDouble == 1.0)
    assert(detail.get("queries").get("q_a_y").isNull)
    assert(detail.get("errors").size == 1 && detail.get("errors").get(0).asText == "q_a_y")
    assert(rollup.get("families").get("q_a").isNull, lines(1))
    assert(rollup.get("families").get("q_b").asDouble == 2.25)
    assert(total.get("value").asDouble == 3.25 && total.get("nerrors").asInt == 1 &&
      total.get("nqueries").asInt == 3)
    assert(lines.last.length < 200, lines.last)
  }
}
