package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (forked test JVM exits at the end,
  * so the session is never explicitly stopped — stopping it in one suite's
  * afterAll would kill it for the rest). Its warehouse is a temp dir of
  * this JVM's own, deleted when the JVM exits.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-test-warehouse").toFile
    // not Scratch.deleteRecursively: a hook must not initialize Scratch,
    // whose initializer adds a hook of its own, which throws at shutdown
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    // local[4, 2]: maxFailures 2, so RetryDeterminismSpec can inject a
    // first-attempt task failure and assert the retried result is
    // value-identical (suites that expect job failure still fail — the
    // poisoned task just retries once more first)
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    graft.functions.Registry.registerAll(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp dir and deletes the dir afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally Scratch.deleteRecursively(dir)
  }
}
