package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** The dev runner's modes on the shared session at sf0.001. */
class RunSpec extends SparkSpec {

  test("entry returns rows") {
    assert(Run.entry(spark) > 0)
  }

  test("explain writes the formatted physical plan to <dir>/<name>_<suffix>.txt") {
    val dir = Files.createTempDirectory("graft_run_explain")
    try {
      Run.explain(spark, sf0001, Seq("q1_pricing_summary"),
        Some((dir.toString, "t")))
      val txt = Files.readString(dir.resolve("q1_pricing_summary_t.txt"))
      assert(txt.contains("== Physical Plan =="), txt)
      assert(txt.contains("Scan parquet"), txt)
    } finally graft.Scratch.deleteRecursively(dir.toFile)
  }

  test("ab passes on equal values, with and without conf overrides") {
    assert(Run.ab(spark, sf0001, 2, "q1_pricing_summary", "q1_pricing_summary"))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(Run.ab(spark, sf0001, 2, "q1_pricing_summary",
      "q1_pricing_summary;spark.sql.shuffle.partitions=3"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "a side's confs must be restored after its reps")
  }

  test("ab fails the checksum gate when the two sides' values differ") {
    assert(!Run.ab(spark, sf0001, 1, "q1_pricing_summary", "q6_forecast_revenue"))
    intercept[IllegalArgumentException](Run.side("q1_pricing_summary;nokv"))
  }
}
