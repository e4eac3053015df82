package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment reads stay in the harness: [[Sessions]] (cores) and
  * [[Bench]] (what to measure and where). A value that shapes a query's
  * output, a persisted artifact or an oracle is a constant in the module
  * that owns the operator: the artifact cache keys entries on the input
  * tables and the builder version only, so an env-dependent value would
  * be baked into an entry another setting then reads as a hit.
  */
class EnvReadsSpec extends AnyFunSuite {

  test("sys.env and System.getenv appear only in Sessions.scala and Bench.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val readers = files.filter { p =>
      val text = Files.readString(p)
      text.contains("sys.env") || text.contains("System.getenv")
    }.map(p => root.relativize(p).toString).sorted
    assert(readers == Seq("graft/Bench.scala", "graft/Sessions.scala"),
      "only the harness (Sessions, Bench) may read the environment; a " +
        "value that shapes a persisted artifact or an oracle is a " +
        s"constant in the module that owns the operator. Readers: $readers")
  }
}
