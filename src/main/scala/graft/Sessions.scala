package graft

import org.apache.spark.sql.SparkSession

/** The one way a harness builds its Spark session: [[Bench]], [[Verify]]
  * and [[graft.tools.Run]] all run on [[local]]. The test session keeps
  * its own builder: it needs `local[4, 2]` so a task can fail and retry.
  */
object Sessions {

  /** `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every conf [[local]] applies, master included. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // shuffle/spill on tmpfs: this host's disk stalls under iowait and
    // was adding 10x noise to shuffle-heavy query timings
    "spark.local.dir" -> Scratch.sparkLocalDir,
    "spark.sql.warehouse.dir" ->
      s"${Scratch.dir}/graft_warehouse_${Scratch.runToken}",
    // ContextCleaner only releases dropped broadcasts / localCheckpoint
    // blocks / shuffle files after a DRIVER GC notices the references
    // died; the default periodic-GC interval (30 min) never fires
    // inside one bench run, so across 259 queries the old gen fills
    // with dead blocks and every late-run query pays mounting GC.
    // Harmless on an idle host; on a loaded one it is the difference
    // between 0.08 s and 30 s for an 11-row query (r12 driver-record
    // tail spikes — attribution in BENCH_NOTES.md).
    "spark.cleaner.periodicGC.interval" -> "90s")

  /** A session with [[settings]], logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
