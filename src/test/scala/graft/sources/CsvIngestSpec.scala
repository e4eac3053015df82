package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.model.Location

class CsvIngestSpec extends SparkSpec {

  /** Temp dirs the running test made with [[writeCsv]]. */
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  private def writeCsv(lines: String*): String = {
    val dir = Files.createTempDirectory("graft_csv_test")
    dirs += dir.toFile
    Files.writeString(dir.resolve("part.csv"), lines.mkString("\n"))
    dir.toString
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally { dirs.foreach(graft.Scratch.deleteRecursively); dirs.clear() }

  test("binds columns by header name, independent of column order") {
    // Header order differs from the canonical LOCID,LOCTIMEZONE,... order.
    val path = writeCsv(
      "COUNTRY,LOCID,BUSINESS,LOCNAME,LOCTIMEZONE",
      "USA,LOC1,TechCorp_1,Springfield_1,UTC")
    val got = CsvIngest.readLocations(spark, path).collect().toSeq
    assert(got === Seq(Location("LOC1", "UTC", "USA", "Springfield_1", "TechCorp_1")))
  }

  test("extra unknown columns are ignored") {
    val path = writeCsv(
      "LOCID,LOCTIMEZONE,COUNTRY,LOCNAME,BUSINESS,UNKNOWN_EXTRA",
      "LOC1,UTC,USA,Springfield_1,TechCorp_1,garbage")
    val got = CsvIngest.readLocations(spark, path).collect().toSeq
    assert(got === Seq(Location("LOC1", "UTC", "USA", "Springfield_1", "TechCorp_1")))
  }

  test("missing required header fails fast (reference silently misbinds)") {
    val path = writeCsv(
      "LOCID,LOCTIMEZONE,LOCNAME,BUSINESS", // COUNTRY absent
      "LOC1,UTC,Springfield_1,TechCorp_1")
    val e = intercept[IllegalArgumentException] {
      CsvIngest.readLocations(spark, path)
    }
    assert(e.getMessage.contains("COUNTRY"))
  }

  test("header match is exact — lowercase headers do not bind") {
    val path = writeCsv(
      "locid,loctimezone,country,locname,business",
      "LOC1,UTC,USA,Springfield_1,TechCorp_1")
    intercept[IllegalArgumentException] {
      CsvIngest.readLocations(spark, path)
    }
  }

  test("empty file (header only) yields zero rows") {
    val path = writeCsv("LOCID,LOCTIMEZONE,COUNTRY,LOCNAME,BUSINESS")
    assert(CsvIngest.readLocations(spark, path).count() === 0)
  }

  test("ragged row aborts the import (FAILFAST, like the reference's csv.Reader)") {
    val path = writeCsv(
      "LOCID,LOCTIMEZONE,COUNTRY,LOCNAME,BUSINESS",
      "LOC1,UTC,USA,Springfield_1,TechCorp_1",
      "LOC2,UTC,USA") // wrong field count
    intercept[org.apache.spark.SparkException] {
      CsvIngest.readLocations(spark, path).collect()
    }
  }

  test("duplicate keys across files: re-import is idempotent and updates win") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // file 1 then file 2 share LOC1; seq models file order
    val f1 = writeCsv(
      "LOCID,LOCTIMEZONE,COUNTRY,LOCNAME,BUSINESS",
      "LOC1,UTC,USA,Old_1,OldCorp",
      "LOC2,UTC,UK,Keep_2,KeepCorp")
    val f2 = writeCsv(
      "LOCID,LOCTIMEZONE,COUNTRY,LOCNAME,BUSINESS",
      "LOC1,CET,DE,New_1,NewCorp")
    val b1 = CsvIngest.readLocations(spark, f1).toDF().withColumn("seq", lit(1L))
    val b2 = CsvIngest.readLocations(spark, f2).toDF().withColumn("seq", lit(2L))
    val merged = graft.operators.Upsert
      .lastWins(b1.unionByName(b2), Seq("locid"), col("seq"))
      .drop("seq").as[Location].collect().sortBy(_.locid).toSeq
    assert(merged === Seq(
      Location("LOC1", "CET", "DE", "New_1", "NewCorp"), // file-2 update won
      Location("LOC2", "UTC", "UK", "Keep_2", "KeepCorp")))
    // idempotent: merging file 2 again changes nothing
    val again = graft.operators.Upsert
      .lastWins(merged.toDF().withColumn("seq", lit(2L)).unionByName(b2.withColumn("seq", lit(3L))),
        Seq("locid"), col("seq"))
      .drop("seq").as[Location].collect().sortBy(_.locid).toSeq
    assert(again === merged)
  }
}
