package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark's `private[sql]` JDBC and Dataset internals are reached through
  * one shim, `GraftJdbc`, the only graft file inside Spark's packages. A
  * Spark upgrade that moves those internals then breaks one file, and
  * every use of them is found by reading it.
  */
class SparkInternalsSpec extends AnyFunSuite {

  private val shim = "org/apache/spark/sql/execution/datasources/jdbc/GraftJdbc.scala"

  private def sources: Map[String, String] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  test("the GraftJdbc shim is the only src/main file in a Spark package") {
    val inSpark = sources.collect {
      case (f, text) if text.linesIterator.exists(_.startsWith("package org.apache.spark")) => f
    }.toSeq.sorted
    assert(inSpark == Seq(shim),
      "Spark internals go through the GraftJdbc shim; no other file may " +
        s"declare a package under org.apache.spark. Files: $inSpark")
  }

  test("outside the shim, Spark's JDBC datasource package is used only for GraftJdbc") {
    val pkg = "org.apache.spark.sql.execution.datasources.jdbc"
    val users = sources.collect {
      case (f, text) if f != shim &&
          text.split(java.util.regex.Pattern.quote(pkg)).tail.exists(!_.startsWith(".GraftJdbc")) => f
    }.toSeq.sorted
    assert(users.isEmpty,
      s"Spark internals go through the GraftJdbc shim; import $pkg.GraftJdbc " +
        s"instead of Spark's JDBC classes. Files: $users")
  }
}
