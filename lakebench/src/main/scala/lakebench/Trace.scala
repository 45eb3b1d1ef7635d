package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spans and counters of one pass, kept in memory until the pass ends.
  *
  * A span times one call the benchmark makes into a layer of the engine
  * (name, start, end) and belongs to the op that issued it. A disabled
  * trace runs the body and records nothing, so an untraced pass makes
  * the same calls into the engine, except the log listings that
  * classify a traced commit and the Spark listener.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counterMap = mutable.LinkedHashMap.empty[String, Double]
  /** The op the next spans belong to. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spanBuf += Span(op, name, t0, System.nanoTime())
    }

  /** Records a span timed by the caller. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spanBuf += Span(op, name, startNs, endNs)

  /** Adds `n` to counter `name`; the argument is only evaluated when
    * tracing, so counting may read state the untraced pass never reads.
    */
  def count(name: String, n: => Double): Unit =
    if (enabled) counterMap(name) = counterMap.getOrElse(name, 0.0) + n

  def spans: Seq[Span] = spanBuf.toSeq
  def counters: collection.Map[String, Double] = counterMap

  /** Total milliseconds of the spans named `name`. */
  def spanMs(name: String): Double =
    spanBuf.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).sum
}

object Trace {
  final case class Span(op: Int, name: String, startNs: Long, endNs: Long)
}

/** Spark's own view of a traced pass: every job's interval and every
  * task's time, shuffle and spill, from the scheduler's events.
  */
final class SparkStats extends SparkListener {
  import SparkStats.{Job, Task}

  private val jobStarts = mutable.HashMap.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      // The scheduler delay as Spark's UI derives it: the part of the
      // task's duration not spent deserializing, running, serializing
      // or shipping its result.
      val delay = info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime
      tasks += Task(info.finishTime, m.executorRunTime, math.max(0L, delay),
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
  }
}

object SparkStats {
  final case class Job(startMs: Long, endMs: Long)
  final case class Task(finishMs: Long, runMs: Long, schedDelayMs: Long,
      shuffleBytes: Long, spillBytes: Long)
}
