package graft

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r11 item 7's "done" bar: every JSON fragment Bench emits must
  * be valid JSON when the JVM's DEFAULT locale formats decimals with a
  * comma (de_DE) — WITHOUT any `Locale.setDefault` pin in the production
  * path (the round-11 global pin broke Derby database creation; BenchJson
  * formats per-site with an explicit Locale.ROOT instead).
  */
class BenchJsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def underLocale[A](l: Locale)(body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(prev)
  }

  test("all Bench JSON fragments parse under a comma-decimal default locale") {
    underLocale(Locale.GERMANY) {
      // the hazard is real: the f-interpolator under this default emits commas
      assert(f"${3.14159}%.3f" == "3,142")

      val cal = BenchJson.calRecord("start", 123L, 201.5, 32, 250.25, 25.78, 44.9)
      val n1 = mapper.readTree(cal)
      assert(n1.get("st_ms").asDouble() == 201.5)
      assert(n1.get("eff").asDouble() == 25.78)

      val sample = BenchJson.sample(99L, 123.46, 2L, 0L)
      val n4 = mapper.readTree(sample)
      assert(n4.isArray && n4.get(1).asDouble() == 123.5)

      val host = BenchJson.hostSummary(steal = 975L, iowait = 12L,
        medSpin = 156.4, maxSpin = 298.7, nSamples = 41, effStart = 25.7,
        effEnd = 24.93)
      val nh = mapper.readTree(host)
      assert(nh.get("steal").asLong() == 975L)
      assert(nh.get("spin_med_ms").asDouble() == 156.0)
      assert(nh.get("eff_end").asDouble() == 24.9)

      val drain = BenchJson.drainRecord("q231_drain", 600000L, 4.27,
        nBatches = 4, p50Ms = 812L, p99Ms = 1460L)
      val nd = mapper.readTree("{" + drain + "}")
      assert(nd.get("q231_drain").get("rows").asLong() == 600000L)
      assert(nd.get("q231_drain").get("rows_per_s").asDouble() == 140515.0)
      assert(nd.get("q231_drain").get("n_batches").asInt() == 4)
      assert(nd.get("q231_drain").get("batch_ms_p50").asLong() == 812L)
      assert(nd.get("q231_drain").get("batch_ms_p99").asLong() == 1460L)

      val compact = BenchJson.compactTotal(236.068, 2,
        Seq("q63_pipeline_transform" -> 6.824, "q126_triangles" -> 6.19),
        "/root/testdata/sf0.1", 237, host,
        extra = "\"stream\":{" + drain + "}," +
          BenchJson.codegenRecord(2491L, 31234.56))
      val n5 = mapper.readTree(compact)
      assert(n5.get("metric").asText() == "total")
      assert(n5.get("value").asDouble() == 236.068)
      // failed queries are left out of `value`, so their count rides
      // the line: a pass with failures must not read as a faster pass
      assert(n5.get("failed").asInt() == 2)
      assert(n5.get("queries").get("q63_pipeline_transform").asDouble() == 6.824)
      assert(n5.get("n_queries").asInt() == 237)
      // the graded artifact carries its own weather evidence (VERDICT r16
      // item 1): steal/eff readable from the compact line alone
      assert(n5.get("host").get("steal").asLong() == 975L)
      assert(n5.get("stream").get("q231_drain").get("sec").asDouble() == 4.27)
      assert(n5.get("codegen").get("compiles").asLong() == 2491L)
      assert(n5.get("codegen").get("ms").asDouble() == 31235.0)
      // tail-capture contract: the compact line stays well under ~2 KB
      assert(compact.length < 2000)
    }
  }

  test("compact line fits the driver's ~2 KB tail capture at the REAL " +
      "worst case: 20 long-named queries + host + both drains") {
    // The 2-query assertion above passes trivially; this one bounds the
    // production shape so a future field addition that pushes the real
    // line past the tail capture fails a test instead of truncating the
    // graded artifact. Query names: the suite's longest is 34 chars
    // (q250_curriculum_phases_distributed) — use 40 for headroom.
    val host = BenchJson.hostSummary(steal = 1234567L, iowait = 99999L,
      medSpin = 21098.7, maxSpin = 99999.9, nSamples = 9999,
      effStart = 31.99, effEnd = 31.99)
    val drains = Seq(
      BenchJson.drainRecord("q231_drain", 999999999L, 9999.99, 9999,
        999999L, 999999L),
      BenchJson.drainRecord("q232_drain", 999999999L, 9999.99, 9999,
        999999L, 999999L))
      .mkString("\"stream\":{", ",", "},") +
      BenchJson.codegenRecord(999999999L, 99999999.9)
    val top = (1 to 20).map(i => f"q$i%03d_" + "x" * 34 -> 99999.999)
    val line = BenchJson.compactTotal(99999.999, 250, top,
      "/root/testdata/sf0.1", 250, host, drains)
    val n = mapper.readTree(line)
    assert(n.get("queries").size() == 20)
    assert(n.get("failed").asInt() == 250)
    assert(n.get("codegen").get("compiles").asLong() == 999999999L)
    assert(line.length < 2000, s"compact line ${line.length}B busts the tail budget")
  }

  test("no global locale mutation: default is untouched after emission") {
    underLocale(Locale.GERMANY) {
      BenchJson.compactTotal(1.0, 0, Seq("q" -> 1.0), "sf", 1,
        BenchJson.hostSummary(0L, 0L, 1.0, 1.0, 0, 1.0, 1.0))
      assert(Locale.getDefault == Locale.GERMANY)
    }
  }
}
