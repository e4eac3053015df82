package graft

import java.nio.file.{Files, Path, Paths}

/** The [[Artifacts]] table and its warm-up: the declared deps form an
  * acyclic graph, every entry a builder requests is one of its declared
  * deps, and a warm registry rebuilds nothing.
  */
class ArtifactsSpec extends SparkSpec {

  test("entry names are unique and the deps form an acyclic graph") {
    val names = Artifacts.all.map(_.name)
    assert(names.distinct == names, names)
    // Kahn's order over the declared deps consumes every entry
    var left = Artifacts.all
    var done = Set.empty[String]
    while (left.nonEmpty) {
      val ready = left.filter(_.deps.forall(d => done(d.name)))
      assert(ready.nonEmpty, s"dependency cycle among ${left.map(_.name)}")
      done ++= ready.map(_.name)
      left = left.diff(ready)
    }
    assert(Artifacts.all.flatMap(_.deps).forall(Artifacts.all.contains),
      "every dep is a table entry")
  }

  private def copyCorpus(): Path = {
    // a fresh dir name is a fresh cache slot: the registry starts cold
    val d = Files.createTempDirectory("graft_warm")
    Scratch.copyTree(Paths.get(sf0001), d)
    d
  }

  test("cold warm-up builds each entry once from its declared deps; " +
    "a second warm-up rebuilds nothing") {
    val dir = copyCorpus().toString
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
    def builtHere = {
      import scala.jdk.CollectionConverters._
      Artifacts.builds.asScala.toSeq.filter(_.dir == dir)
    }
    try {
      val ledger = Artifacts.warm(spark, dir)
      val names = Artifacts.all.map(_.name)
      assert(ledger.map(_._1) == names.sorted)
      assert(builtHere.map(_.name).sorted == names.sorted,
        "a cold registry builds every entry exactly once")
      val declared = Artifacts.all.map(e => e.name -> e.deps.map(_.name)).toMap
      builtHere.foreach { b =>
        val undeclared = b.requested.toSet -- declared(b.name)
        assert(undeclared.isEmpty,
          s"${b.name} requested undeclared deps: ${undeclared.mkString(",")}")
      }
      val before = builtHere.size
      assert(Artifacts.warm(spark, dir).map(_._1) == names.sorted)
      assert(builtHere.size == before, "a warm registry rebuilds nothing")
    } finally {
      Option(Paths.get("target", "graft_artifact_cache").toFile.listFiles())
        .toSeq.flatten.filter(_.getName.contains(s"_${dirKey}_"))
        .foreach(Scratch.deleteRecursively)
      Scratch.deleteRecursively(new java.io.File(dir))
      CacheTracker.releaseAll()
    }
  }
}
