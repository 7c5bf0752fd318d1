package graft

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's stdout line and drift object stay JSON under any default
  * locale: a comma-decimal default must not turn 0.12345 into 0,12345.
  */
class BenchJsonSpec extends SparkSpec {

  private def withLocale[T](l: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  test("Bench JSON parses under a comma-decimal default locale") {
    withLocale(Locale.GERMANY) {
      assert(String.format("%.2f", Double.box(0.5)) == "0,50") // the hazard is live
      val results = Seq("q01_a" -> 0.12345, "q02_b" -> 1.5, "q03_c" -> -1.0)
      val ratios = (1 to 25).map(i => f"q$i%02d" -> (0.8 + i / 100.0))
      val drift = Bench.driftJson(ratios, "0.25", "2026-01-01T00:00:00Z")
      val gate = s"""{"this_total_s": 1.62345,
        "window_quality": {"pass_loadavg": ${Bench.fixedArray(Seq(1.25, 3.5), 2)},
        "drift": $drift}}"""
      val line = Bench.summaryLine(1.62345, results, Seq("q03_c"), Seq(1.7, 1.62345),
        Seq(1.25, 3.5), 0.54115, gate, "/data/sf0.1")
      val json = new ObjectMapper().readTree(line)
      assert(json.get("queries").get("q01_a").asDouble() == 0.12345)
      assert(json.get("pass_loadavg").get(1).asDouble() == 3.5)
      assert(json.get("failed").get(0).asText() == "q03_c")
      val d = json.get("gate").get("window_quality").get("drift")
      assert(d.get("median").asDouble() == 0.93)
      assert(d.get("worst").get(0).get("ratio").asDouble() == 1.05)
    }
  }
}
