package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract: the driver parses the LAST line of a
  * bounded tail-capture of the bench run as JSON, so [[Bench.summaryLine]]
  * must (a) be strict JSON and (b) stay far below any plausible capture
  * bound. Rounds 1–11 all recorded `parsed: null` because the tens-of-KB
  * full per-query JSON was printed last; the summary is now the true
  * final line and this spec keeps it that way.
  */
class BenchSpec extends AnyFunSuite {

  private def line: String = Bench.summaryLine(
    total = 144.4, n = 252, errors = 0, trainSec = 69.241,
    sfDir = "/root/testdata/sf0.1", duckTotal = 234.428, duckNulls = 0,
    ratioTotal = 0.616, ratioMedian = 1.234)

  test("summary line is one short line, well under a tail-capture bound") {
    assert(!line.contains("\n"))
    assert(line.getBytes("UTF-8").length < 2048, s"summary too long: $line")
  }

  test("summary line is strict JSON with the graded keys") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(line) // throws on malformed JSON
    for (k <- Seq("metric", "value", "unit", "n", "errors",
        "train_warmup_sec", "gc_total_ms", "sf", "duckdb_total",
        "duckdb_nulls", "ratio_total", "ratio_median", "load_factor", "full"))
      assert(node.has(k), s"missing key $k in $line")
    assert(node.get("n").asInt() == 252)
    assert(node.get("ratio_total").asDouble() == 0.616)
    assert(node.get("full").asText() == "target/bench_full.json")
  }

  test("summary line survives a comma-decimal default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val l = line // re-evaluates under the German default locale
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      assert(l.contains("\"value\":144.400"),
        s"locale leaked into the number format: $l")
    } finally java.util.Locale.setDefault(prev)
  }

  test("summary stays short even with a pathological sf dir path") {
    val long = Bench.summaryLine(1e9, 99999, 99999, 1e9,
      "/" + "x" * 200, 1e9, 99999, 1e9, 1e9)
    assert(long.getBytes("UTF-8").length < 2048)
  }

  test("summary line carries the machine-evaluated regressions count") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(line)
    assert(node.has("regressions"), s"missing regressions key in $line")
    val withRegs = Bench.summaryLine(144.4, 252, 0, 69.241, "/x",
      234.428, 0, 0.616, 1.234, 0L, regressions = 3)
    assert(m.readTree(withRegs).get("regressions").asInt() == 3)
  }

  test("regression predicate: delta > 0.3s AND ratio > 1.4x, both required") {
    val prior = Map("a" -> 1.0, "b" -> 0.2, "c" -> 2.0, "d" -> 0.5)
    val now = Map(
      "a" -> 1.35,  // delta 0.35 > 0.3 but ratio 1.35 < 1.4 -> no
      "b" -> 0.45,  // ratio 2.25 > 1.4 but delta 0.25 < 0.3 -> no
      "c" -> 3.0,   // delta 1.0 AND ratio 1.5 -> regression
      "d" -> 0.4,   // improvement -> no
      "e" -> 9.0)   // absent from prior -> no
    assert(Bench.regressions(prior, now).map(_._1) == Seq("c"))
    // boundary values are NOT regressions (strict >; exact-in-binary cases)
    assert(Bench.regressions(Map("x" -> 1.0), Map("x" -> 1.25)).isEmpty)
    assert(Bench.regressions(Map("x" -> 1.0), Map("x" -> 1.4)).isEmpty)
  }

  test("prior record reader finds the newest BENCH_SELF and parses queries") {
    val prior = Bench.priorRecord()
    // the repo carries committed BENCH_SELF_r*.json records
    assert(prior.name.exists(_.startsWith("BENCH_SELF_r")), s"got ${prior.name}")
    assert(prior.queries.nonEmpty && prior.queries.values.forall(_ >= 0.0))
    assert(prior.queries.contains("q1_pricing_summary"),
      "per-query map missing keys")
    // the load-normalization denominator rides the same record
    assert(prior.duckdb.contains("q1_pricing_summary"),
      "baseline per-query duckdb map missing keys")
    assert(prior.duckdb.values.sum > 0.0, "baseline duckdb_total missing")
  }

  test("load factor: clamped at 1.0, ratio above, 1.0 on missing totals") {
    assert(Bench.loadFactor(300.0, 200.0) == 1.5) // loaded run: scale prev up
    assert(Bench.loadFactor(150.0, 200.0) == 1.0) // faster host: raw predicate
    assert(Bench.loadFactor(0.0, 200.0) == 1.0)   // duckdb disabled this run
    assert(Bench.loadFactor(300.0, 0.0) == 1.0)   // baseline had no duck total
  }

  test("common-queries load factor ignores surface growth on either side") {
    // a new query's 100 s oracle must NOT read as host load
    val prior = Map("a" -> 1.0, "b" -> 2.0)
    val now = Map("a" -> 2.0, "b" -> 4.0, "brand_new" -> 100.0)
    assert(Bench.loadFactorCommon(now, prior) == 2.0)
    // a RETIRED query's cost drops out of the denominator symmetrically
    assert(Bench.loadFactorCommon(Map("a" -> 1.0), prior + ("gone" -> 50.0)) == 1.0)
    // no overlap -> neutral factor
    assert(Bench.loadFactorCommon(Map("x" -> 1.0), prior) == 1.0)
  }

  test("regression predicate is load-normalized: phantoms under uniform load") {
    // a uniformly 1.6x-loaded host: every query slower by the same factor,
    // duckdb_total inflated identically -> loadFactor 1.6 -> zero flags
    val prior = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.5)
    val loaded = prior.map { case (k, v) => k -> v * 1.6 }
    assert(Bench.regressions(prior, loaded).nonEmpty, "sanity: raw flags fire")
    assert(Bench.regressions(prior, loaded, loadFactor = 1.6).isEmpty)
    // a REAL regression still fires through the normalization
    val real = loaded + ("b" -> 6.0) // 3x beyond the load factor
    assert(Bench.regressions(prior, real, loadFactor = 1.6).map(_._1) == Seq("b"))
  }
}
