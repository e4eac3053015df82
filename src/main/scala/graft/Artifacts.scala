package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.pipeline.CurationQueries
import graft.text.DedupQueries
import graft.vector.SimilarityQueries

/** The one registry for shared, deterministic artifacts: two calls and
  * one table.
  *
  * [[memo]] is the per-process build-once memo (a lock per key, so
  * independent keys build in parallel while concurrent callers of one
  * key build it once and share the result). Per-JVM fixtures that hold
  * a gate's operator output (the lake layouts, the dedup cluster edges,
  * the staged stream inputs) use it alone: they are never persisted.
  *
  * [[Entry]] is a persisted index artifact — a codebook, a k-NN graph,
  * a link graph, a lake input fixture. Its path is [[memo]] around the
  * cross-JVM cache [[publish]]: entries live under
  * `target/graft_artifact_cache/<name>_<dirKey>_<fingerprint>`, keyed on
  * a CONTENT fingerprint of the corpus tables they derive from plus the
  * builder version, so a fresh JVM on unchanged testdata reads parquet
  * instead of rebuilding, and a regenerated corpus misses and sweeps
  * the stale entry. The builder writes straight into the entry's temp
  * dir; an atomic rename publishes it.
  *
  * [[warm]] builds every entry ahead of the measured queries.
  *
  * CONTRACT for concurrent callers: builders toggle SESSION confs around
  * their eager actions (`Confs.withConf`, e.g. AQE off for Lloyd loops),
  * and per-key locks do not serialize those toggles. Concurrent builds
  * of different keys are only safe when each caller drives its OWN
  * SparkSession — [[warm]] hands every build a `newSession()` child for
  * exactly this reason. Sequential callers (the gates, Verify, the
  * serially-executed suites) are unaffected.
  */
object Artifacts {

  private val vals = new ConcurrentHashMap[String, AnyRef]()
  private val locks = new ConcurrentHashMap[String, Object]()

  /** `build` once per process for `key`; later callers share the result.
    * Keys are global: prefix them with their owner.
    */
  def memo[V](key: String)(build: => V): V = {
    val v = vals.get(key)
    if (v != null) v.asInstanceOf[V]
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val v2 = vals.get(key)
      if (v2 != null) v2.asInstanceOf[V]
      else {
        val r = build
        vals.put(key, r.asInstanceOf[AnyRef])
        r
      }
    }
  }

  /** One builder run: the entry, the corpus dir, and every entry the
    * builder requested while it ran.
    */
  private[graft] final case class Build(name: String, dir: String,
      requested: Seq[String])

  /** Every builder run in this process, in completion order. */
  private[graft] val builds = new ConcurrentLinkedQueue[Build]()

  // the entries the builder running on this thread has requested so far
  private val requesting =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]

  /** A persisted artifact: `build(session, corpusDir, outDir)` writes the
    * whole artifact under `outDir`, reading `deps` through their paths.
    * Bump `version` on any change to what the builder writes: the cache
    * outlives the JVM, so an edited builder must miss the old entry.
    */
  final class Entry private[Artifacts] (val name: String,
      val tables: Seq[String], val version: String, val deps: Seq[Entry],
      build: (SparkSession, String, String) => Unit) {

    /** The published entry dir for corpus `dir`, built on first use. */
    def path(s: SparkSession, dir: String): String = {
      Option(requesting.get).foreach(_ += name)
      memo(s"artifact|$name|$dir") {
        publish(name, dir, tables, version) { out =>
          val outer = requesting.get
          val asked = scala.collection.mutable.ArrayBuffer.empty[String]
          requesting.set(asked)
          try build(s, dir, out)
          finally {
            requesting.set(outer)
            builds.add(Build(name, dir, asked.toSeq))
          }
        }
      }
    }
  }

  private def entry(name: String, table: String, version: String,
      deps: Entry*)(build: (SparkSession, String, String) => Unit): Entry =
    new Entry(name, Seq(table), version, deps, build)

  // The table. Declaration order is the warm-up's tie-break, so the
  // NN-descent chain — the critical path — comes first.
  val Nng: Entry = entry("nng", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildNng(s, d, o))
  val NngIns: Entry = entry("nng_ins", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildNngInsert(s, d, o))
  val NngDel: Entry = entry("nng_del", "embeddings", "1", Nng)(
    (s, d, o) => SimilarityQueries.buildNngDelete(s, d, o))
  val NngCompact: Entry = entry("nng_compact", "embeddings", "1", NngIns)(
    (s, d, o) => SimilarityQueries.buildNngCompact(s, d, o))
  val NngBeam: Entry = entry("nngbeam", "embeddings", "1", Nng)(
    (s, d, o) => SimilarityQueries.buildNngBeam(s, d, o))
  val IvfCb: Entry = entry("ivfcb", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildIvfCodebook(s, d, o))
  val IvfCbIncBase: Entry = entry("ivfcbincbase", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildIvfIncBaseCodebook(s, d, o))
  val IvfIdx: Entry = entry("ivfidx", "embeddings", "1", IvfCb)(
    (s, d, o) => SimilarityQueries.buildIvfIndexLayout(s, d, o))
  val PqCb: Entry = entry("pqcb", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildPqCodebook(s, d, o))
  val PqCbOpq: Entry = entry("pqcbopq", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildOpqCodebook(s, d, o))
  val PqCbRes: Entry = entry("pqcbres", "embeddings", "1", IvfCb, IvfIdx)(
    (s, d, o) => SimilarityQueries.buildResidualCodebook(s, d, o))
  val NdPairs: Entry = entry("ndpairs", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildPlantedPairs(s, d, o))
  val PcaMat: Entry = entry("pcamat", "embeddings", "1")(
    (s, d, o) => SimilarityQueries.buildPcaMatrix(s, d, o))
  val Bigrams: Entry = entry("bigrams", "documents", "1")(
    (s, d, o) => SimilarityQueries.buildBigramBase(s, d, o))
  val Shingled: Entry = entry("shingled", "documents", "1")(
    (s, d, o) => DedupQueries.buildShingledCorpus(s, d, o))
  val LinkGraph: Entry = entry("linkgraph", "documents", "1")(
    (s, d, o) => CurationQueries.buildLinkGraph(s, d, o))
  val LinkDirected: Entry = entry("linkdirected", "documents", "1", LinkGraph)(
    (s, d, o) => CurationQueries.buildLinkDirected(s, d, o))
  val LmBfs: Entry = entry("lmbfs", "documents", "1", LinkGraph)(
    (s, d, o) => CurationQueries.buildLandmarkBfs(s, d, o))
  val LakeV1: Entry = entry("lakev1", "orders", "1")(
    (s, d, o) => LakeQueries.buildLakeBaseFixture(s, d, o))
  val VacFix: Entry = entry("vacfix", "orders", "1")(
    (s, d, o) => LakeQueries.buildVacuumFixture(s, d, o))

  val all: Seq[Entry] = Seq(Nng, NngIns, NngDel, NngCompact, NngBeam,
    IvfCb, IvfCbIncBase, IvfIdx, PqCb, PqCbOpq, PqCbRes, NdPairs, PcaMat,
    Bigrams, Shingled, LinkGraph, LinkDirected, LmBfs, LakeV1, VacFix)

  private val WarmParallel = 4
  private val WarmWaitSec = 900L

  /** Builds every entry for `dir`, so a benchmark bills artifact builds
    * to an explicit warm-up instead of whichever query touches them
    * first. Each entry starts once all its deps have finished, at most
    * [[WarmParallel]] at a time, each on its own `newSession()` child
    * (see the concurrency contract above); declaration order breaks
    * ties. Waiting more than [[WarmWaitSec]] for the next build to
    * finish fails loudly. Returns name-sorted (entry, build seconds);
    * builds overlap, so the seconds sum past the warm-up's wall.
    */
  def warm(s: SparkSession, dir: String): Seq[(String, Double)] = {
    val pool = Executors.newFixedThreadPool(WarmParallel)
    val finished = new LinkedBlockingQueue[(Entry, Either[Throwable, Double])]()
    val done = scala.collection.mutable.Set.empty[Entry]
    val items = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var pending = all
    var running = 0
    var failure: Option[Throwable] = None
    def start(e: Entry): Unit = {
      running += 1
      pool.submit(new Runnable {
        def run(): Unit = finished.put(e -> (try {
          val cs = s.newSession()
          graft.functions.Registry.registerAll(cs)
          val t0 = System.nanoTime()
          e.path(cs, dir)
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case t: Throwable => Left(t) }))
      })
    }
    // wait for every started build before returning or throwing, so a
    // failed build never leaves another racing the first measured query
    try while (running > 0 || (failure.isEmpty && pending.nonEmpty)) {
      if (failure.isEmpty) {
        val ready = pending.filter(_.deps.forall(done))
          .take(WarmParallel - running)
        pending = pending.diff(ready)
        ready.foreach(start)
        require(running > 0,
          s"unsatisfiable deps: ${pending.map(_.name).mkString(",")}")
      }
      val next = finished.poll(WarmWaitSec, TimeUnit.SECONDS)
      if (next == null) throw new java.util.concurrent.TimeoutException(
        s"[warm] no artifact build finished within ${WarmWaitSec}s")
      running -= 1
      next match {
        case (e, Right(sec)) => done += e; items += e.name -> sec
        case (_, Left(t)) => if (failure.isEmpty) failure = Some(t)
      }
    } finally {
      pool.shutdownNow()
      ()
    }
    failure.foreach(throw _)
    items.sortBy(_._1).toSeq
  }

  /** Content fingerprint of the named tables under `dir`: md5 over each
    * table name + file bytes (directory tables hash every file in
    * sorted relative order). Memoized — the corpus is read-only for the
    * life of the process.
    */
  def fingerprint(dir: String, tables: Seq[String]): String =
    memo(s"fingerprint|$dir|${tables.sorted.mkString(",")}") {
      val md = java.security.MessageDigest.getInstance("MD5")
      tables.sorted.foreach { t =>
        md.update(t.getBytes("UTF-8"))
        val p = Paths.get(dir, s"$t.parquet")
        if (Files.isRegularFile(p)) md.update(Files.readAllBytes(p))
        else if (Files.isDirectory(p)) {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(p)
          val files =
            try walk.iterator().asScala
              .filter(Files.isRegularFile(_)).toSeq
              .sortBy(f => p.relativize(f).toString)
            finally walk.close()
          files.foreach { f =>
            md.update(p.relativize(f).toString.getBytes("UTF-8"))
            md.update(Files.readAllBytes(f))
          }
        }
      }
      md.digest().map("%02x".format(_)).mkString.take(16)
    }

  private def cacheRoot: Path =
    Paths.get(sys.props.getOrElse("user.dir", "."),
      "target", "graft_artifact_cache")

  private val Marker = "_GRAFT_COMPLETE"
  private val tmpSeq = new AtomicLong()

  /** The cross-JVM cache under [[Entry.path]]: the complete entry for
    * artifact `name` of `tables` under `dir` if one exists for the
    * current content fingerprint, else `build(tmpDir)` runs, the marker
    * is written, and the temp is atomically renamed into place. The
    * slot carries the CORPUS DIR (entries for sf0.01 and sf0.1 coexist),
    * and the sweep matches the exact `name_dirkey_<16-hex>` shape so
    * `nng`'s sweep can never eat `nng_ins`'s entries. It removes this
    * slot's older fingerprints, a markerless entry at the destination
    * (an interrupted delete leaves one; a live publish never does, the
    * marker lands before the rename), and temps a crashed process left.
    * Concurrent publishers race safely: the first rename wins, the
    * loser deletes its temp and reads the winner's entry.
    */
  private[graft] def publish(name: String, dir: String, tables: Seq[String],
      version: String)(build: String => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update((fingerprint(dir, tables) + "|v" + version).getBytes("UTF-8"))
    val fp = md.digest().map("%02x".format(_)).mkString.take(16)
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "").takeRight(12)
    val slot = s"${name}_$dirKey"
    val dest = cacheRoot.resolve(s"${slot}_$fp")
    if (Files.exists(dest.resolve(Marker))) return dest.toString
    Files.createDirectories(cacheRoot)
    // temps embed this process's runToken, so no later process would
    // reuse or rename them; the 2h-idle guard (Scratch's convention)
    // keeps a concurrent process's live build untouched
    val stale = s"^${java.util.regex.Pattern.quote(slot)}_[0-9a-f]{16}$$".r
    val orphanCutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(cacheRoot.toFile.listFiles()).foreach(_.foreach { f =>
      if ((stale.matches(f.getName) &&
        (f.getName != dest.getFileName.toString ||
          !Files.exists(dest.resolve(Marker)))) ||
        (f.getName.startsWith(".tmp_") &&
          !f.getName.contains(Scratch.runToken) &&
          f.lastModified() < orphanCutoff))
        Scratch.deleteRecursively(f)
    })
    val tmp = cacheRoot.resolve(
      s".tmp_${Scratch.runToken}_${tmpSeq.incrementAndGet()}_${slot}_$fp")
    try build(tmp.toString)
    catch {
      case e: Throwable =>
        Scratch.deleteRecursively(tmp.toFile)
        throw e
    }
    Files.write(tmp.resolve(Marker), Array.empty[Byte])
    try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.FileSystemException =>
        // a concurrent publisher renamed first — use its entry
        Scratch.deleteRecursively(tmp.toFile)
        require(Files.exists(dest.resolve(Marker)),
          s"artifact cache race left no complete entry at $dest")
    }
    dest.toString
  }
}
