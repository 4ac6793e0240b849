package graft

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** CI gate over the committed BENCH_FULL.json, the per-query record
  * `graft.Bench` writes: its config is recorded, it has exactly one row
  * per registered query, every row carries a cold time and
  * `Bench.WarmRuns` raw warm runs whose median is the row's warm figure,
  * the totals are the sums of the rows, and the run had no errors.
  */
class BenchArtifactSpec extends AnyFunSuite {

  private lazy val root: JsonNode = {
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
    // a duplicated query key must fail the parse, not silently win
    new ObjectMapper()
      .configure(JsonParser.Feature.STRICT_DUPLICATE_DETECTION, true)
      .readTree(body)
  }
  private lazy val rows: Map[String, JsonNode] =
    root.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue).toMap

  test("committed BENCH_FULL.json records sf, cpus and shuffle_partitions") {
    assert(root.path("sf").isTextual && root.path("sf").asText().nonEmpty)
    assert(root.path("cpus").isInt && root.path("cpus").asInt() > 0)
    assert(root.path("shuffle_partitions").isInt &&
      root.path("shuffle_partitions").asInt() > 0)
  }

  test("committed BENCH_FULL.json has exactly one row per registered query") {
    assert(rows.keySet == SparkEntry.queries.keySet,
      s"missing ${SparkEntry.queries.keySet -- rows.keySet}, " +
        s"extra ${rows.keySet -- SparkEntry.queries.keySet}")
  }

  test("every row: cold >= 0 and WarmRuns warm runs >= 0 whose median is warm") {
    for ((name, r) <- rows) {
      assert(r.path("cold").isNumber && r.path("cold").asDouble() >= 0, name)
      val runs = r.path("warm_runs")
      assert(runs.isArray && runs.size() == Bench.WarmRuns, s"$name: $runs")
      val ws = runs.elements().asScala.map { w =>
        assert(w.isNumber && w.asDouble() >= 0, s"$name: $runs")
        w.asDouble()
      }.toSeq
      assert(r.path("warm").isNumber &&
        r.path("warm").asDouble() == Bench.median(ws), s"$name: $r")
      assert(r.path("error").isMissingNode, s"$name: $r")
    }
  }

  test("cold_total and warm_total are the sums of the rows, to rounding") {
    def total(f: String) = rows.values.map(_.path(f).asDouble()).sum
    assert(math.abs(root.path("cold_total").asDouble() - total("cold")) < 1e-3)
    assert(math.abs(root.path("warm_total").asDouble() - total("warm")) < 1e-3)
  }

  test("committed BENCH_FULL.json records no errors") {
    val errors = root.path("errors")
    assert(errors.isArray && errors.isEmpty, s"errors: $errors")
  }
}
