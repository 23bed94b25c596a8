package perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A timed call into one layer. `parent` is the id of the span that was
  * open when this one started (-1 at the top). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: every job started while the span was
  * open (including jobs submitted from threads it spawned, which inherit the
  * job tag) and the stages and tasks of those jobs. */
final class SpanCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var cpuNs = 0L
  /** task durations (ms) per stage, for the skew figure */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the stage with the most total task time:
    * the stage that sets the span's wall time when one task straggles. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ms = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(ms(ms.length / 2), 1L)
      ms.last.toDouble / med
    }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "cpu_s" -> cpuNs / 1e9, "task_skew" -> taskSkew)
}

/** Spans around the benchmark's calls into each layer. With `enabled` the
  * tracer also registers a SparkListener on the session and tags every job
  * with the ids of the spans open at submission; without it a span is only
  * a pair of clock readings, so the untraced run pays nothing else.
  * Spans stay in memory until [[records]] are written at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var openSpans: List[Span] = Nil
  private val bySpan = mutable.Map.empty[Int, SpanCounters]
  private val stageSpans = mutable.Map.empty[Int, Seq[Int]]
  private val Prefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val ids = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(Prefix))
        .map(_.stripPrefix(Prefix).toInt)
      ids.foreach(id => bySpan.getOrElseUpdate(id, new SpanCounters).jobs += 1)
      if (ids.nonEmpty) e.stageIds.foreach(s => stageSpans.getOrElseUpdate(s, ids))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpans.getOrElse(e.stageInfo.stageId, Nil)
        .foreach(id => bySpan.getOrElseUpdate(id, new SpanCounters).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageSpans.getOrElse(e.stageId, Nil).foreach { id =>
        val c = bySpan.getOrElseUpdate(id, new SpanCounters)
        c.tasks += 1
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.cpuNs += m.executorCpuTime
        }
      }
    }
  }
  private object lock

  if (enabled) sc.addSparkListener(listener)

  /** Opens a span named `name` as a child of the innermost open one. */
  def open(name: String): Span = {
    val s = Span(spans.length, name, openSpans.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    openSpans = s :: openSpans
    if (enabled) sc.addJobTag(Prefix + s.id)
    s
  }

  /** Closes the innermost span, `s`, once its jobs' events are delivered. */
  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    openSpans = openSpans.tail
    if (enabled) {
      sc.removeJobTag(Prefix + s.id)
      ListenerBusDrain(sc)
    }
  }

  def counters(s: Span): SpanCounters = lock.synchronized {
    bySpan.getOrElse(s.id, new SpanCounters)
  }

  /** every span with its counters, in opening order */
  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ counters(s).toMap
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}
