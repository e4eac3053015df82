package graft

/** Driver-run benchmark: times every SparkEntry query at the SF dir given
  * by SPARK_GRAFT_SF_DIR and prints ONE compact JSON line.
  *
  * Noise control (the round-3 bench was taken on a host whose disk stalls
  * under iowait and single-run timings showed phantom 3-4x regressions):
  *   - shuffle/spill lives on tmpfs ([[Scratch.sparkLocalDir]]);
  *   - each query runs REPS times and the MEDIAN is reported, so one
  *     stalled run cannot masquerade as a plan regression;
  *   - timings are rounded to milliseconds to keep the JSON line short
  *     enough that a tail-capture of the run log cannot truncate it.
  */
object Bench {
  private val Reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    // session warmup so the first measured query doesn't pay one-time
    // JVM/codegen/scheduler costs; also primes each table's footer/schema
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).schema catch { case _: Throwable => }
    }
    // Artifact warm-up: the codebooks, graphs and fixtures in
    // [[Artifacts]] build on first use, so without this the FIRST
    // artifact-sharing query billed ~4-5 s of Lloyd training to its own
    // timing (the r8 sim_pq_adc_knn phantom regression). Build cost is
    // still measured — it's just billed to an explicit line item instead
    // of an arbitrary query, itemized per entry (r11 verdict: an
    // un-itemized lump is unauditable), so round-over-round per-query
    // deltas stay readable.
    val trainT0 = System.nanoTime()
    val warmItems: Seq[(String, Double)] =
      try Artifacts.warm(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] training warmup failed: ${e.getMessage}")
        Seq.empty
      } finally CacheTracker.releaseAll()
    val trainSec = (System.nanoTime() - trainT0) / 1e9
    // dev loop: SPARK_GRAFT_BENCH_ONLY=prefix[,prefix...] times just the
    // matching queries and skips the DuckDB baseline — for profiling one
    // query without paying the full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) =>
        ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // per-query JVM GC time (ms, summed over the reps): the r12 driver
    // record showed recurring 30 s tail spikes on 11-row queries that a
    // quiet-host median-of-3 never reproduces — heap-pressure GC stalls
    // are the hypothesis, and this ledger makes the next driver record
    // carry its own attribution instead of another round of guessing
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcLedger = scala.collection.mutable.LinkedHashMap[String, Long]()
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMs()
      val times = (1 to Reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              errors += name
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          } finally CacheTracker.releaseAll()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      gcLedger += name -> (gcMs() - gc0)
      // median of the successful reps; a failed query reports its wall
      // time as 0 and lands in `errors`
      val med =
        if (times.isEmpty) 0.0
        else times.sorted.apply(times.size / 2)
      name -> med
    }
    val gcTotalMs = gcLedger.values.sum
    val qs = jsonObj(results)
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // DuckDB baseline on the SAME parquet: BASELINE.md publishes no
    // reference numbers, so the measurable anchor for the perf contract
    // is each oracle SQL timed in DuckDB on this host. Shelling to the
    // sandbox's python (a bench-harness concern, like check_oracle.py —
    // the library itself never touches it); absent python/duckdb the
    // bench degrades to spark-only output.
    val duck: Map[String, Option[Double]] =
      if (only.isDefined) Map.empty else duckdbBaseline(sfDir)
    val ratios = results.flatMap { case (k, v) =>
      duck.getOrElse(k, None).collect { case d if d > 0 => k -> v / d } }
    val duckJson = results.keys.map { k =>
      "\"" + k + "\":" + duck.getOrElse(k, None).map(fmt).getOrElse("null")
    }.mkString("{", ",", "}")
    val ratioJson = jsonObj(ratios)
    val duckTotal = duck.values.flatten.sum
    // oracles with no timing (timeout/error) would otherwise silently skew
    // duckdb_total vs the all-query Spark total — count them explicitly
    val duckNulls =
      if (duck.isEmpty) 0
      else results.keys.count(k => duck.getOrElse(k, None).isEmpty)
    val ratioMedian = {
      val s = ratios.values.toSeq.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // the aggregate the throughput contract is graded on: total wall-clock
    // ratio (ratio_median is dominated by per-query fixed overhead on the
    // many sub-0.2s queries; the totals weight by real work)
    val ratioTotal = if (duckTotal > 0) total / duckTotal else 0.0
    // Machine-evaluated regression gate (r15): compare this run's medians
    // against the newest committed BENCH_SELF_r*.json (or the file named by
    // SPARK_GRAFT_BENCH_BASELINE) and EMIT the list instead of hand-writing
    // a "zero regressions" claim — the r14 claim was falsified under one
    // reading of its own threshold. Pinned wording: a query regresses iff
    // (now - prev) > 0.3 s AND now / prev > 1.4.
    val prior = priorRecord()
    val lf = loadFactorCommon(
      duck.collect { case (k, Some(v)) if v > 0 => k -> v }.toMap, prior.duckdb)
    val regs = regressions(prior.queries, results.toMap, loadFactor = lf)
    val regJson = regs.map { case (q, prev, now) =>
      s"""{"q":"$q","prev":${fmt(prev)},"now":${fmt(now)}}"""
    }.mkString("[", ",", "]")
    val warmJson = jsonObj(warmItems)
    val gcJson = gcLedger.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$Reps,"train_warmup_sec":${fmt(trainSec)},"warmup_items":$warmJson,"n":${results.size},"errors":$errs,"sf":"$sfDir","queries":$qs,"gc_ms":$gcJson,"gc_total_ms":$gcTotalMs,"duckdb":$duckJson,"ratio":$ratioJson,"duckdb_total":${fmt(duckTotal)},"duckdb_nulls":$duckNulls,"ratio_total":${fmt(ratioTotal)},"ratio_median":${fmt(ratioMedian)},"regress_baseline":${prior.name.map(b => "\"" + b + "\"").getOrElse("null")},"load_factor":${fmt(lf)},"regressions":$regJson}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // FULL per-query JSON first (for humans / logs), then the SHORT summary
    // as the TRUE FINAL stdout line. The driver parses the last line of a
    // BOUNDED tail capture as JSON: r1–r11 all recorded "parsed": null
    // because the tens-of-KB full JSON was printed last and arrived
    // head-truncated. The summary is ~300 bytes (BenchSpec pins < 2 KB and
    // JSON-parseable) and carries n/errors/totals/ratios plus the path to
    // the full record at target/bench_full.json.
    println(full)
    println(summaryLine(total, results.size, errors.size, trainSec, sfDir,
      duckTotal, duckNulls, ratioTotal, ratioMedian, gcTotalMs, regs.size, lf))
    spark.stop()
  }

  /** The pinned regression predicate (r15, machine-evaluated; r16
    * load-normalized): a query regresses vs the prior committed record
    * iff BOTH the absolute delta exceeds `deltaSec` (default 0.3 s) AND
    * the ratio exceeds `minRatio` (default 1.4×), after scaling the
    * prior time by `loadFactor` — the run's own host-load estimate
    * (this run's `duckdb_total` over the baseline record's, clamped at
    * ≥ 1). Both engines run in the same process, so a loaded host
    * inflates them together; without the normalization every loaded
    * driver run flagged 9–23 phantoms vs the quiet-host baseline
    * (BENCH_NOTES r15) and the official record read as regressions.
    * Queries absent from either side never regress. Returns
    * (name, prev-as-scaled, now) sorted by descending delta.
    */
  def regressions(prior: Map[String, Double], now: Map[String, Double],
      deltaSec: Double = 0.3, minRatio: Double = 1.4,
      loadFactor: Double = 1.0): Seq[(String, Double, Double)] =
    now.toSeq.flatMap { case (q, v) =>
      prior.get(q).map(_ * loadFactor).collect {
        case p if p > 0 && v - p > deltaSec && v / p > minRatio => (q, p, v)
      }
    }.sortBy { case (_, p, v) => p - v }

  /** The host-load estimate used to normalize the regression gate:
    * this run's DuckDB total over the baseline record's, clamped at
    * ≥ 1.0 so a quiet run (or a host FASTER than the baseline's)
    * evaluates the raw pinned predicate unchanged — the normalization
    * only ever forgives load, never hides a real regression behind a
    * faster host. Falls back to 1.0 when either total is absent.
    */
  def loadFactor(nowDuckTotal: Double, priorDuckTotal: Double): Double =
    if (nowDuckTotal > 0 && priorDuckTotal > 0)
      math.max(1.0, nowDuckTotal / priorDuckTotal)
    else 1.0

  /** [[loadFactor]] restricted to queries PRESENT IN BOTH runs — the
    * raw-total version misreads surface growth as load (7 new oracles'
    * DuckDB cost lands in this run's total but not the n−7 baseline's,
    * inflating the estimate and loosening the predicate for every
    * query). Summing only the common keys makes the estimate a pure
    * same-work/same-engine comparison.
    */
  def loadFactorCommon(nowDuck: Map[String, Double],
      priorDuck: Map[String, Double]): Double = {
    val common = nowDuck.keySet & priorDuck.keySet
    loadFactor(common.iterator.map(nowDuck).sum,
      common.iterator.map(priorDuck).sum)
  }

  /** A committed bench record's file name, per-query Spark medians and
    * per-query DuckDB seconds (empty when absent; [[loadFactorCommon]]). */
  final case class PriorRecord(name: Option[String],
      queries: Map[String, Double], duckdb: Map[String, Double])

  /** The prior committed per-query record: the file named by
    * SPARK_GRAFT_BENCH_BASELINE, else the newest BENCH_SELF_r*.json in
    * the working directory (highest round number). Empty when none
    * exists or parsing fails — the regression list is then empty too.
    */
  def priorRecord(): PriorRecord = {
    val none = PriorRecord(None, Map.empty, Map.empty)
    try {
      val path = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
        .map(java.nio.file.Paths.get(_))
        .orElse {
          import scala.jdk.CollectionConverters._
          val re = "BENCH_SELF_r(\\d+)\\.json".r
          java.nio.file.Files.list(java.nio.file.Paths.get("."))
            .iterator().asScala
            .flatMap { p =>
              p.getFileName.toString match {
                case re(n) => Some((n.toInt, p))
                case _ => None
              }
            }.toSeq.sortBy(-_._1).headOption.map(_._2)
        }
      path match {
        case Some(p) if java.nio.file.Files.exists(p) =>
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = m.readTree(txt)
          val qn = node.get("queries")
          if (qn == null || !qn.isObject) none
          else {
            import scala.jdk.CollectionConverters._
            val qs = qn.fieldNames().asScala.map { k =>
              k -> qn.get(k).asDouble()
            }.toMap
            val dn = node.get("duckdb")
            val ds =
              if (dn == null || !dn.isObject) Map.empty[String, Double]
              else dn.fieldNames().asScala.flatMap { k =>
                val v = dn.get(k)
                if (v == null || v.isNull) None else Some(k -> v.asDouble())
              }.toMap
            PriorRecord(Some(p.getFileName.toString), qs, ds)
          }
        case _ => none
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] baseline record unavailable: $e")
        none
    }
  }

  // Locale.ROOT: a comma-decimal default locale would emit "141,700"
  // and break both JSON records (String.format is locale-sensitive)
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonObj(kvs: Iterable[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** The single short JSON line the driver's bounded tail-capture parses —
    * MUST stay small enough to survive the capture (BenchSpec pins the
    * length and parseability; the per-query detail lives in
    * `target/bench_full.json`).
    */
  def summaryLine(total: Double, n: Int, errors: Int, trainSec: Double,
      sfDir: String, duckTotal: Double, duckNulls: Int, ratioTotal: Double,
      ratioMedian: Double, gcTotalMs: Long = 0L, regressions: Int = 0,
      loadFactor: Double = 1.0): String = {
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":$n,"errors":$errors,"train_warmup_sec":${fmt(trainSec)},"gc_total_ms":$gcTotalMs,"sf":"$sfDir","duckdb_total":${fmt(duckTotal)},"duckdb_nulls":$duckNulls,"ratio_total":${fmt(ratioTotal)},"ratio_median":${fmt(ratioMedian)},"regressions":$regressions,"load_factor":${fmt(loadFactor)},"full":"target/bench_full.json"}"""
  }

  /** Times every [[SparkEntry.oracleSql]] entry in DuckDB via
    * `scripts/bench_duckdb.py` (median-free single run, per-query
    * interrupt timeout — the baseline is an anchor, not a regression
    * detector). Returns per-query seconds; None = timed out / errored /
    * baseline unavailable. Disable with SPARK_GRAFT_DUCKDB_BENCH=0.
    */
  private def duckdbBaseline(sfDir: String): Map[String, Option[Double]] = {
    val script = java.nio.file.Paths.get("scripts", "bench_duckdb.py")
    if (sys.env.get("SPARK_GRAFT_DUCKDB_BENCH").contains("0") ||
      !java.nio.file.Files.exists(script)) return Map.empty
    try {
      val oraclePath =
        java.nio.file.Paths.get(Scratch.dir, s"graft_oracle_${Scratch.runToken}.json")
      java.nio.file.Files.write(oraclePath,
        Verify.oracleJson(SparkEntry.oracleSql).getBytes("UTF-8"))
      val timeout = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_TIMEOUT", "120")
      // stderr is INHERITed (not piped): verbose DuckDB binder errors could
      // otherwise fill the ~64KB pipe buffer and deadlock the child before
      // it prints its stdout line. The wait is bounded (the script's own
      // per-query interrupt timeout caps real runtime well below this) and
      // a hung child is killed — the bench then degrades to spark-only.
      val p = new ProcessBuilder("python3", script.toString, sfDir,
        oraclePath.toString, timeout)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start()
      // Drain stdout on a background thread BEFORE the bounded wait: once the
      // per-query JSON grows past the ~64KB pipe buffer the child would block
      // on write and the waitFor below would burn the whole bound.
      val outBuf = new java.io.ByteArrayOutputStream()
      val pump = new Thread(() => {
        try p.getInputStream.transferTo(outBuf)
        catch { case _: java.io.IOException => () }
      }, "duckdb-stdout-pump")
      pump.setDaemon(true)
      pump.start()
      val bound = timeout.toLong * (SparkEntry.oracleSql.size + 2)
      if (!p.waitFor(bound, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        System.err.println(s"[bench] duckdb baseline killed after ${bound}s")
        return Map.empty
      }
      pump.join(10000)
      val out = outBuf.toString("UTF-8")
      // flat {"name": 1.23 | null, ...} — our own script's output
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*(null|[0-9.]+)".r.findAllMatchIn(out).map { m =>
        m.group(1) -> (if (m.group(2) == "null") None else Some(m.group(2).toDouble))
      }.toMap
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] duckdb baseline unavailable: $e")
        Map.empty
    }
  }
}
