package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.sources.Gen

/** O12 (progress counters) + O8 (uuid surrogate): the reference's atomic
  * row counter (`internal/writer/writer.go:52,63-64`) maps to
  * `Dataset.observe` metrics / LongAccumulator; `gen_random_uuid()`
  * (`internal/db/db.go:85`) maps to the `uuid()` expression.
  */
class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("observe() reports ingest counters without a second pass") {
    val obs = Observation("ingest")
    val df = Gen.locations(spark, 500)
      .observe(obs, count(lit(1)).as("rows"),
        approx_count_distinct(col("locid")).as("keys_approx"))
    withTempDir("graft_obs")(dir => df.write.mode("overwrite").parquet(s"$dir/obs"))
    assert(obs.get("rows") == 500L)
    val approx = obs.get("keys_approx").asInstanceOf[Long]
    assert(math.abs(approx - 500L) <= 25, s"approx=$approx") // rsd 5%
  }

  test("accumulator counts rows across partitions like the reference's atomic counter") {
    val acc = spark.sparkContext.longAccumulator("rows_written")
    Gen.locations(spark, 300).repartition(6).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) => acc.add(it.size.toLong)
    }
    assert(acc.value == 300L)
  }

  test("uuid() surrogate ids are well-formed and unique, and stay out of checked output") {
    val ids = Gen.withSurrogateId(Gen.locations(spark, 200))
      .select("id").as[String].collect()
    val uuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r
    assert(ids.length == 200 && ids.distinct.length == 200)
    ids.foreach(id => assert(uuidRe.matches(id), id))
    // the oracle-checked generator output must NOT carry the surrogate
    assert(!Gen.locations(spark, 1).columns.contains("id"))
  }
}
