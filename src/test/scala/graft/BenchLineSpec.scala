package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-7 driver gate crashed because the bench summary line grew past
  * a defensive `require` at 147 queries. The line now carries no per-query
  * data, so its length must be growth-proof — pin that here, for good.
  */
class BenchLineSpec extends AnyFunSuite {

  test("summary line stays under 1500 chars at 500 queries, zero errors") {
    // The line does not enumerate queries at all, so 500 vs 5 is identical;
    // assert on the healthy shape the driver actually sees.
    val line = Bench.summaryLine(12345.678, Some(9876.543), Nil,
      "/root/testdata/sf0.1")
    assert(line.length < 1500, s"line ${line.length} chars: $line")
    assert(line.startsWith("""{"metric":"total","value":12345.678"""))
    assert(line.contains(""""warm_total":9876.543"""))
    assert(line.endsWith(""""sf":"/root/testdata/sf0.1"}"""))
    assert(!line.contains("queries"), "per-query map must never return")
  }

  test("summary line truncates (never throws) with 500 failing queries") {
    val keys = (1 to 500).map(i => f"q$i%03d_some_long_query_name")
    val line = Bench.summaryLine(1.0, Some(1.0), keys, "/root/testdata/sf0.1")
    assert(line.length < 1500, s"line ${line.length} chars")
    assert(line.contains(""""errors_truncated":480"""))
  }

  test("no-warm-pass line omits warm_total") {
    val line = Bench.summaryLine(1.5, None, Nil, "sf")
    assert(!line.contains("warm_total"))
    assert(line == """{"metric":"total","value":1.500,"unit":"sec","sf":"sf"}""")
  }

  test("median: middle of an odd sample, mean of the middle pair if even") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(0.5, 9.0, 0.4)) == 0.5, "an outlier run never moves it")
    assert(Bench.median(Seq(4.0)) == 4.0)
    assert(Bench.median(Seq(1.0, 4.0, 2.0, 3.0)) == 2.5)
  }
}
