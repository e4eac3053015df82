package graft

import org.apache.spark.sql.SparkSession

/** Scoped session tuning for EAGER iterative loops over keyed state
  * (k-core, label propagation, PageRank/HITS, connected components,
  * k-center): adaptive execution OFF and a state-size-derived shuffle
  * width for the loop's duration.
  *
  * Why (r16, measured on kcore at sf0.1, checksum-identical variants):
  * with AQE on, every exchange inside a round materializes as its own
  * job, so one b=2 checkpoint paid ~11 job-submission floors (~45 ms
  * each on the bench host) for ~20 ms of actual task work — 2.20 s for
  * the 10-round gate. AQE off alone REGRESSED to 3.70 s (each stage
  * then runs `spark.sql.shuffle.partitions` = one task wave of 32
  * ~15 ms tasks over rows that fit in one); AQE off + a width derived
  * from the state size (4 at n = 5000) ran 1.47 s. The two levers only
  * pay TOGETHER, which is why the r14/r15 single-lever A/Bs recorded
  * nulls.
  *
  * Scale behavior: the width grows linearly with the state row count
  * (one partition per ~100k state rows, floor 4, cap 8× cores), so a
  * production-sized loop state gets a production-sized width — this is
  * NOT a local[32] constant. At very large state the cap hands the
  * sizing problem back to the cluster's core count, where a deployment
  * would re-enable AQE anyway; the override is scoped to the loop and
  * restored on exit (including on exception, via [[Confs.withConf]]).
  *
  * Soundness: only wrap loops whose body is EAGER (per-round
  * localCheckpoint / explicit actions). Frames RETURNED out of the body
  * must already be checkpoint-cut — anything lazy evaluates after the
  * conf restore and does not see the overrides (the [[Confs]]
  * contract). Results are unaffected: every gated loop's aggregations
  * are partition-count invariant (exact integer/decimal, pinned by
  * PartitionInvarianceSpec for the gates that ride this).
  */
object LoopConf {
  def width(s: SparkSession, stateRows: Long): Int = {
    val cores = s.sparkContext.defaultParallelism
    math.max(4L, math.min(cores.toLong * 8, stateRows / 100000 + 1)).toInt
  }

  def tight[A](s: SparkSession, stateRows: Long)(body: => A): A =
    Confs.withConf(s,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width(s, stateRows).toString)(body)
}
