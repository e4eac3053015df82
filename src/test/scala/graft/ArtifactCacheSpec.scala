package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cross-JVM cache under [[Artifacts]] ([[Artifacts.publish]]):
  * hits are content-keyed, a regenerated corpus sweeps ONLY its own
  * (name, dir) slot, sibling names sharing a prefix are untouched (the
  * r15 bug: `nng`'s sweep ate `nng_ins`'s entries), two corpus dirs
  * coexist, a markerless leftover rebuilds, and racing publishers agree.
  * Each test deletes its temp corpora and every entry published against
  * them, so a run leaves no `actest*` slot in the shared cache.
  */
class ArtifactCacheSpec extends AnyFunSuite {

  private val corpora = scala.collection.mutable.Buffer.empty[String]

  private def mkCorpus(tag: String, content: String): String = {
    val d = Files.createTempDirectory(s"graft_ac_$tag")
    Files.write(d.resolve("embeddings.parquet"), content.getBytes("UTF-8"))
    corpora += d.toString
    d.toString
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      corpora.foreach { dir =>
        val dirKey = dir.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
        Option(Paths.get("target", "graft_artifact_cache").toFile.listFiles())
          .toSeq.flatten.filter(_.getName.contains(s"_${dirKey}_"))
          .foreach(Scratch.deleteRecursively)
        Scratch.deleteRecursively(new java.io.File(dir))
      }
      corpora.clear()
    }

  test("hit on unchanged corpus; regeneration sweeps only the stale slot") {
    val dir = mkCorpus("a", "v1")
    var builds = 0
    def build(): String =
      Artifacts.publish("actest", dir, Seq("embeddings"), "1") { p =>
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "data.txt"), s"built$builds".getBytes("UTF-8"))
    }
    val p1 = build()
    val p2 = build()
    assert(p1 == p2 && builds == 1, "second call must hit the cache")
    // sibling name sharing the prefix must survive this slot's sweep
    val sib = Artifacts.publish("actest_ins", dir, Seq("embeddings"), "1") {
      p =>
        Files.createDirectories(Paths.get(p))
        Files.write(Paths.get(p, "sib.txt"), "s".getBytes("UTF-8"))
    }
    // regenerate the corpus: new fingerprint, old entry swept, sibling kept
    Files.write(Paths.get(dir, "embeddings.parquet"), "v2".getBytes("UTF-8"))
    // fingerprints memoize per process — a fresh JVM would recompute; the
    // spec recomputes through a second dir with the regenerated bytes
    val dir2 = mkCorpus("a2", "v2")
    val p3 = Artifacts.publish("actest", dir2, Seq("embeddings"), "1") { p =>
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "data.txt"), s"built$builds".getBytes("UTF-8"))
    }
    assert(p3 != p1 && builds == 2, "changed content must rebuild")
    assert(Files.exists(Paths.get(sib, "sib.txt")),
      "a prefix-sharing sibling name must never be swept by this slot")
    // dir and dir2 differ → different slots, BOTH entries coexist
    assert(Files.exists(Paths.get(p1, "data.txt")),
      "another corpus dir's entry must coexist, not be evicted")
  }

  test("builder version bump misses the old entry and rebuilds") {
    val dir = mkCorpus("v", "same")
    var builds = 0
    def build(version: String): String =
      Artifacts.publish("actestver", dir, Seq("embeddings"), version) {
        p =>
          builds += 1
          Files.createDirectories(Paths.get(p))
          Files.write(Paths.get(p, "d.txt"), version.getBytes("UTF-8"))
      }
    val p1 = build("1")
    assert(build("1") == p1 && builds == 1)
    val p2 = build("2")
    assert(p2 != p1 && builds == 2,
      "an edited builder (version bump) must not reuse the stale artifact")
    assert(!Files.exists(Paths.get(p1)),
      "the old-version entry is stale for this slot and must be swept")
  }

  test("a throwing build deletes its temp instead of orphaning it") {
    val dir = mkCorpus("t", "boom")
    val boom = intercept[RuntimeException] {
      Artifacts.publish("actestfail", dir, Seq("embeddings"), "1") { p =>
        Files.createDirectories(Paths.get(p))
        throw new RuntimeException("builder exploded")
      }
    }
    assert(boom.getMessage == "builder exploded")
    val root = Paths.get("target", "graft_artifact_cache")
    val leftover = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(".tmp_") &&
        f.getName.contains("actestfail"))
    assert(leftover.isEmpty, s"orphaned tmp dirs: ${leftover.mkString(",")}")
    // and the failure is not cached: a later good build succeeds
    val p = Artifacts.publish("actestfail", dir, Seq("embeddings"), "1") {
      p =>
        Files.createDirectories(Paths.get(p))
        Files.write(Paths.get(p, "ok.txt"), "ok".getBytes("UTF-8"))
    }
    assert(Files.exists(Paths.get(p, "ok.txt")))
  }

  test("fingerprint tracks content, not path metadata") {
    val d1 = mkCorpus("f1", "same-bytes")
    val d2 = mkCorpus("f2", "same-bytes")
    assert(Artifacts.fingerprint(d1, Seq("embeddings")) ==
      Artifacts.fingerprint(d2, Seq("embeddings")))
    val d3 = mkCorpus("f3", "other-bytes")
    assert(Artifacts.fingerprint(d1, Seq("embeddings")) !=
      Artifacts.fingerprint(d3, Seq("embeddings")))
  }

  private def leftoverTmps(name: String): Seq[java.io.File] =
    Option(Paths.get("target", "graft_artifact_cache").toFile.listFiles())
      .toSeq.flatten
      .filter(f => f.getName.startsWith(".tmp_") && f.getName.contains(name))

  test("a markerless entry left by an interrupted delete is rebuilt") {
    val dir = mkCorpus("m", "partial")
    var builds = 0
    def build(): String =
      Artifacts.publish("actestpartial", dir, Seq("embeddings"), "1") { p =>
        builds += 1
        Files.createDirectories(Paths.get(p))
        Files.write(Paths.get(p, "data.txt"), s"built$builds".getBytes("UTF-8"))
      }
    val p1 = build()
    // what a killed recursive delete leaves: data files, no marker
    Files.delete(Paths.get(p1, "_GRAFT_COMPLETE"))
    assert(Files.exists(Paths.get(p1, "data.txt")))
    val p2 = build()
    assert(p2 == p1 && builds == 2, "a markerless entry must rebuild, not fail")
    assert(Files.exists(Paths.get(p2, "_GRAFT_COMPLETE")))
    assert(Files.readString(Paths.get(p2, "data.txt")) == "built2")
    assert(build() == p2 && builds == 2, "the rebuilt entry is a hit")
  }

  test("two racing publishers share one complete entry and leave no temp") {
    val dir = mkCorpus("r", "race")
    val inBuild = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            Artifacts.publish("actestrace", dir, Seq("embeddings"), "1") { p =>
              // both builds are in flight before either publishes
              inBuild.countDown()
              inBuild.await(30, java.util.concurrent.TimeUnit.SECONDS)
              Files.createDirectories(Paths.get(p))
              Files.write(Paths.get(p, "data.txt"), s"t$i".getBytes("UTF-8"))
            }
        })
      }
      val paths = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(inBuild.getCount == 0, "both publishers must have built")
      assert(paths.distinct.size == 1, paths)
      assert(Files.exists(Paths.get(paths.head, "_GRAFT_COMPLETE")))
      assert(Files.exists(Paths.get(paths.head, "data.txt")))
      val left = leftoverTmps("actestrace")
      assert(left.isEmpty, s"temp dirs left behind: ${left.mkString(",")}")
    } finally pool.shutdownNow()
  }
}
