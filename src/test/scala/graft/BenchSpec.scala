package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The Bench record's schema, rendered from synthetic measurements, so no
  * test has to run the suite or stop the shared session. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Measured, Run}

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)
  private def keys(n: JsonNode): Seq[String] = {
    val it = n.fieldNames()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  // every query slow enough to name, and twice its reference plus a second,
  // so the phase forensics carry their largest maps
  private val suite = Measured(
    sfDir = "/data/graft/testdata/sf0.1", // longer than the default sfDir
    suite = names.zipWithIndex.map { case (n, i) => n -> Run(10.0 + i * 0.137, 3.1, 0.2) },
    materialized = names.zipWithIndex.map { case (n, i) => n -> (11.0 + i * 0.091) },
    isolated = None,
    failed = names.take(2),
    materializeFailed = Seq.empty,
    skipped = Seq.empty,
    suiteOnly = false)
  private val ref = Some(names.map(_ -> 1.0).toMap)

  test("the stdout line leads with metric, value and errors and fits its tail window") {
    assert(names.size == 221)
    val (full, line) = Bench.render(suite, ref)
    assert(line.length <= 1950, line.length)
    assert(line.startsWith("""{"metric":"total","value":"""), line.take(80))
    val j = parse(line)
    assert(keys(j).take(5) == Seq("metric", "value", "unit", "n_queries", "errors"))
    assert(j.get("n_queries").asInt == 221)
    assert(j.get("errors").asInt == 2)
    assert(j.get("n_materialized").asInt == 221)
    assert(j.get("n_regressions").asInt == 221)
    // the file record carries every query
    val f = parse(full)
    assert(keys(f.get("queries")).size == 221)
    assert(keys(f.get("materialized")).size == 221)
    assert(keys(f.get("queries_gc")).size == 221)
  }

  test("a suite record carries no isolate keys") {
    val (full, line) = Bench.render(suite, ref)
    Seq(full, line).map(parse).foreach { j =>
      Seq("isolated", "isolated_detail", "isolate_runs", "isolate_consume").foreach { k =>
        assert(!j.has(k), k)
      }
    }
  }

  test("an --isolate record carries isolated and isolated_detail, and no suite maps") {
    val iso = Measured(
      sfDir = "testdata/sf0.1",
      suite = Seq.empty,
      materialized = Seq.empty,
      isolated = Some(Seq("qgraph_pagerank" -> Seq(Run(2.5, 9.0, 0.3), Run(2.1, 8.0, 0.2),
        Run(2.3, 8.5, 0.1)))),
      failed = Seq.empty,
      materializeFailed = Seq.empty,
      skipped = Seq.empty,
      suiteOnly = false)
    val (full, line) = Bench.render(iso, ref)
    val f = parse(full)
    assert(f.get("isolated").get("qgraph_pagerank").asDouble == 2.1)
    val detail = f.get("isolated_detail").get("qgraph_pagerank")
    assert(detail.get("series_index").toString == "[1,2,3]")
    assert(detail.get("wall").toString == "[2.5,2.1,2.3]")
    assert(f.get("isolate_runs").asInt == 3)
    assert(!f.has("isolate_consume") && !f.has("materialized") && !f.has("phase_factor"))
    // the detail is file-only; the line keeps the best times
    val l = parse(line)
    assert(l.get("isolated").get("qgraph_pagerank").asDouble == 2.1)
    assert(!l.has("isolated_detail"))
    assert(keys(l).take(5) == Seq("metric", "value", "unit", "n_queries", "errors"))
  }
}
