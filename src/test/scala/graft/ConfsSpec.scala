package graft

/** [[Confs.withConf]] on a key with no value and no default: it is set
  * inside the body and unset again afterwards, also when the body throws.
  */
class ConfsSpec extends SparkSpec {

  private val key = "spark.graft.confsspec.unset"

  test("an unset key is set in the body and unset again afterwards") {
    assert(spark.conf.getOption(key).isEmpty)
    val seen = Confs.withConf(spark, key -> "1")(spark.conf.get(key))
    assert(seen === "1")
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("an unset key is unset again when the body throws") {
    assert(spark.conf.getOption(key).isEmpty)
    val boom = intercept[RuntimeException] {
      Confs.withConf(spark, key -> "1") { throw new RuntimeException("boom") }
    }
    assert(boom.getMessage === "boom")
    assert(spark.conf.getOption(key).isEmpty)
  }
}
