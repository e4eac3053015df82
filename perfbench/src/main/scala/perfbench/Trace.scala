package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans recorded from the benchmark side around each call into a layer of
  * the program. A span is kept in memory and written out when the run ends.
  * With tracing off every call is a plain pass-through.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      var endNs: Long, attrs: Seq[(String, Any)])

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime() - t0, -1L, attrs)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime() - t0
        stack = stack.tail
      }
    }

  def json: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6) ++ s.attrs
  }
}

/** Engine counters summed over every job the session runs while it is
  * registered: the benchmark registers it only in a traced run.
  */
final class Counters extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleReadBytes = 0L
  private var spillBytes = 0L
  private var executorCpuNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      executorCpuNs += m.executorCpuTime
    }
  }

  def snapshot: Map[String, Double] = synchronized {
    Map("spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> spillBytes.toDouble,
      "spark.executor_cpu_s" -> executorCpuNs / 1e9)
  }
}
