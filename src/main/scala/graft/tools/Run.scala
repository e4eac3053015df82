package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.{CacheTracker, Confs, Sessions, SparkEntry}

/** The dev runner: hand-run checks and measurements of registered
  * queries (modes in `Usage`, each documented at its method), on the
  * harness session [[graft.Sessions.local]] with `$SPARK_GRAFT_CPUS` cores.
  */
object Run {

  private val Usage = """usage: Run entry
    |       Run explain <sfDir> <name>... [--out <dir> --suffix <s>]
    |       Run stats <sfDir> <name>...
    |       Run ab <sfDir> <reps> <nameA>[;k=v...] <nameB>[;k=v...]""".stripMargin

  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"$why\n$Usage")
      sys.exit(2)
    }
    // every argument is checked before the session starts
    def known(names: Seq[String]): Unit = {
      if (names.isEmpty) usage("no query named")
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}")
    }
    val job: SparkSession => Boolean = args.toList match {
      case List("entry") => s => { val n = entry(s); println(s"[entry] rows=$n"); n > 0 }
      case "explain" :: sfDir :: rest =>
        val (names, out) = rest.span(!_.startsWith("--")) match {
          case (ns, Nil) => (ns, None)
          case (ns, List("--out", dir, "--suffix", sfx)) => (ns, Some((dir, sfx)))
          case _ => usage("explain takes --out <dir> --suffix <s> together, after the names")
        }
        known(names)
        s => { explain(s, sfDir, names, out); true }
      case "stats" :: sfDir :: names =>
        known(names)
        s => { stats(s, sfDir, names); true }
      case List("ab", sfDir, reps, a, b) =>
        if (!reps.matches("[1-9][0-9]{0,5}")) usage(s"reps must be 1 to 999999, got '$reps'")
        try known(Seq(side(a)._1, side(b)._1))
        catch { case e: IllegalArgumentException => usage(e.getMessage) }
        s => ab(s, sfDir, reps.toInt, a, b)
      case _ => usage("unknown mode")
    }
    val spark = Sessions.local(Sessions.cpus)
    val ok = try job(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Row count of the driver's entry query. */
  def entry(s: SparkSession): Long = SparkEntry.entry(s).count()

  /** Without `out`, runs each query and prints its executed (post-AQE)
    * plan — what PlanSpec asserts against. With `out = (dir, suffix)`,
    * writes its formatted plan, unexecuted, to `dir/<name>_<suffix>.txt`.
    */
  def explain(s: SparkSession, sfDir: String, names: Seq[String],
      out: Option[(String, String)]): Unit = names.foreach { name =>
    try {
      val df = SparkEntry.queries(name)(s, sfDir)
      out match {
        case None =>
          df.collect()
          println(s"=== EXECUTED PLAN: $name ===")
          println(df.queryExecution.executedPlan.toString)
        case Some((dir, suffix)) =>
          val path = Paths.get(dir, s"${name}_$suffix.txt")
          Files.createDirectories(path.getParent)
          Files.writeString(path, df.queryExecution.explainString(FormattedMode))
          println(s"[explain] wrote $path")
      }
    } finally CacheTracker.releaseAll()
  }

  /** Per query: one untimed warm rep (memoized artifacts and codegen off
    * the measured rep), then one timed `count()` — the Bench action —
    * whose counters are printed.
    */
  def stats(s: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    // each rep gets its own meter; the warm rep's drain keeps its events
    // off the timed rep's meter
    def rep(name: String): (Double, Meter) = {
      val m = new Meter(s.sparkContext)
      s.sparkContext.addSparkListener(m)
      try {
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(s, sfDir).count()
        finally CacheTracker.releaseAll()
        val sec = (System.nanoTime() - t0) / 1e9
        m.drain()
        (sec, m)
      } finally s.sparkContext.removeSparkListener(m)
    }
    names.foreach { name =>
      rep(name)
      val (sec, m) = rep(name)
      println(f"[stats] $name wall=$sec%.3f s jobs=${m.jobs} stages=${m.stages} " +
        f"tasks=${m.tasks} run=${m.runMs / 1e3}%.2f s cpu=${m.cpuNs / 1e9}%.2f s " +
        f"deser=${m.deserMs / 1e3}%.2f s gc=${m.gcMs / 1e3}%.2f s")
      m.stageLines.sortBy(_._1).foreach { case (_, l) => println(s"[stats]   $l") }
      m.batches.foreach(b => println(s"[stats]   stream $b"))
    }
  }

  /** An A/B side, `name[;k=v...]`: a registered query and the session
    * confs set around its reps.
    */
  private[tools] def side(spec: String): (String, Seq[(String, String)]) = {
    val parts = spec.split(";").toSeq
    parts.head -> parts.tail.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(s"'$kv' in '$spec' is not k=v")
      }
    }
  }

  /** Interleaved A/B of two sides (`name[;k=v...]`): one untimed warm rep
    * of each, then `reps` timed pairs with the order alternating, so a
    * drifting host load falls on both sides alike. A rep is the
    * [[checksum]] action, which evaluates every output value. True iff
    * every rep of both sides gave one and the same checksum.
    */
  def ab(s: SparkSession, sfDir: String, reps: Int, a: String, b: String): Boolean = {
    val sides = Seq(side(a), side(b))
    def rep(i: Int): (Double, String) = {
      val (name, confs) = sides(i)
      val t0 = System.nanoTime()
      val sum =
        try Confs.withConf(s, confs: _*)(checksum(SparkEntry.queries(name)(s, sfDir)))
        finally CacheTracker.releaseAll()
      ((System.nanoTime() - t0) / 1e9, sum)
    }
    sides.indices.foreach(rep)
    val runs = (0 until reps).map { r =>
      val order = if (r % 2 == 0) Seq(0, 1) else Seq(1, 0)
      order.map(i => i -> rep(i)).toMap
    }
    def median(i: Int): Double = runs.map(_(i)._1).sorted.apply(reps / 2)
    val sums = sides.indices.map(i => runs.map(_(i)._2).toSet)
    val agree = sums(0).size == 1 && sums(0) == sums(1)
    println(f"[ab] A ${median(0)}%8.3f s  $a")
    println(f"[ab] B ${median(1)}%8.3f s  $b")
    println(s"[ab] A faster in ${runs.count(r => r(0)._1 < r(1)._1)}/$reps pairs; " +
      (if (agree) s"checksums agree ${sums(0).head}"
       else s"checksums DIFFER A=${sums(0).mkString(",")} B=${sums(1).mkString(",")}"))
    agree
  }

  /** Order-independent value checksum, `rows:sum` — the sum of every
    * row's xxhash64 over all its values. Column names do not enter it.
    */
  def checksum(df: DataFrame): String = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = byPos
      .select(xxhash64(byPos.columns.map(col).toSeq: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Counts the Spark work and stream batches run while it is registered.
    * Only the bus thread writes; [[drain]]'s semaphore publishes them. */
  private final class Meter(sc: SparkContext) extends SparkListener {
    var jobs, stages, tasks = 0
    var runMs, cpuNs, deserMs, gcMs = 0L
    val stageLines = ArrayBuffer[(Int, String)]()
    val batches = ArrayBuffer[String]()

    // drain(): a one-task marker job, excluded from the counts. A listener
    // sees events (stream progress included) in posting order, so once
    // the marker's end arrives, every event of the work before it has too.
    private val Marker = "graft.run.drain"
    private val markerStages = mutable.Set[Int]()
    private var markerJob = -1
    private val markerDone = new Semaphore(0)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
        markerStages ++= e.stageIds
        markerJob = e.jobId
      } else jobs += 1

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.release()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (!markerStages(i.stageId)) {
        stages += 1
        // the first query-code frame of the call site names the stage
        val site = i.details.split("\n")
          .find(l => l.contains("graft.") && !l.contains("graft.tools."))
          .getOrElse(i.name).trim.take(100)
        val wall = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        stageLines += i.stageId -> (f"stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"wall=$wall%6d ms run=${i.taskMetrics.executorRunTime}%6d ms " +
          f"cpu=${i.taskMetrics.executorCpuTime / 1000000}%6d ms  $site")
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          deserMs += m.executorDeserializeTime
          gcMs += m.jvmGCTime
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent =>
        batches += s"batch=${p.progress.batchId} rows=${p.progress.numInputRows} " +
          p.progress.durationMs.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
      case _ =>
    }

    /** Blocks until every event of the work run so far has arrived. */
    def drain(): Unit = {
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(Marker, null)
      require(markerDone.tryAcquire(60, TimeUnit.SECONDS),
        "listener events did not drain within 60 s")
    }
  }
}
