package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness session's settings ([[Sessions.settings]], what
  * [[Sessions.local]] applies): scratch dirs the cleanup can reach, and
  * UTC, whatever the JVM's default zone.
  */
class SessionsSpec extends AnyFunSuite {

  private val conf = Sessions.settings(4).toMap

  test("local dir sits under a token-named graft_ dir in the scratch root") {
    val local = new java.io.File(conf("spark.local.dir"))
    assert(local.getParent == Scratch.dir)
    // the startup sweep removes only stale graft* entries, the shutdown
    // hook only entries carrying this JVM's token
    assert(local.getName.startsWith("graft_"), local)
    assert(local.getName.contains(Scratch.runToken), local)
    val warehouse = new java.io.File(conf("spark.sql.warehouse.dir"))
    assert(warehouse.getParent == Scratch.dir)
    assert(warehouse.getName.startsWith("graft_") &&
      warehouse.getName.contains(Scratch.runToken), warehouse)
  }

  test("time zone is UTC and the cores set both master and shuffle width") {
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.master") == "local[4]")
    assert(conf("spark.sql.shuffle.partitions") == "4")
  }
}
