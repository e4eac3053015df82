package graft

/** Scratch-space root for roundtrip temp files and Spark local dirs.
  *
  * This host's disk is IO-throttled (bench runs showed load-average
  * spikes with 97% idle CPU and rising iowait — shuffle-heavy queries
  * degraded 10× while compute-bound ones didn't). Routing scratch
  * traffic to tmpfs decouples the engine's measurements from disk
  * contention; hosts without /dev/shm get a dedicated subdir of the
  * normal tmpdir. Cleanup is two-layered: this JVM removes its own
  * token-suffixed entries on exit, and startup sweeps entries a crashed
  * JVM left behind (idle > 2h, so a concurrently running harness is
  * never touched). The sweep only ever runs inside the dedicated
  * graft-scratch dir and never follows symlinks.
  */
object Scratch {

  /** Per-JVM token: names every scratch entry this process creates, so
    * concurrent harness processes never share files and the shutdown
    * hook knows exactly what belongs to this run.
    */
  val runToken: String = java.util.UUID.randomUUID().toString.take(8)

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    // never descend THROUGH a symlink — a planted link inside the shared
    // scratch root must not let the sweep reach outside it
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  val dir: String = {
    val base =
      if (new java.io.File("/dev/shm").isDirectory) new java.io.File("/dev/shm")
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    val root = new java.io.File(base, "graft-scratch")
    root.mkdirs()
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(root.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft") && f.lastModified() < cutoff)
        deleteRecursively(f)
    })
    val token = runToken // capture NOW: the hook must not trigger class init at shutdown
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(root.listFiles()).foreach(_.foreach { f =>
        if (f.getName.contains(token)) deleteRecursively(f)
      })))
    root.getAbsolutePath
  }

  /** spark.local.dir for harness sessions: token-named so a crashed
    * JVM's shuffle/spill files match the same graft*-prefix stale sweep
    * as every other scratch entry instead of leaking tmpfs forever.
    */
  def sparkLocalDir: String = s"$dir/graft_spark_local_$runToken"

  /** Recursive file copy — the fixture-per-invocation helper: gates
    * whose step MUTATES a directory tree (vacuum deletes files, a
    * restarted stream appends to checkpoint + sink) copy a memoized
    * build and mutate the throwaway copy.
    */
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dest)
      else java.nio.file.Files.copy(p, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}
