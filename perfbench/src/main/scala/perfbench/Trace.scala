package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into the program. `parent` is -1 for a root span; all
  * spans of one benchmark run share `run`. Times are wall-clock ms so they
  * compare with the scheduler's job times.
  */
final case class Span(id: Int, name: String, parent: Int, run: String, startMs: Long,
                      var endMs: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Long = endMs - startMs
}

/** In-memory span recorder. While a span is open its id is the
  * SparkContext local property [[Tracer.SpanProperty]], so every job the
  * call submits from this thread is attributed to it by [[Collector]].
  * A disabled tracer only runs the body.
  */
final class Tracer(sc: SparkContext, run: String, enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), run,
        System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Runs `body` with its jobs attributed to `tag` (below -1) but records
    * no span: the engine counters of an untraced call, to compare with a
    * traced one.
    */
  def tagged[A](tag: Int)(body: => A): A =
    if (!enabled) body
    else {
      require(tag < -1 && open.isEmpty, "a tag is for a top-level untraced call")
      sc.setLocalProperty(Tracer.SpanProperty, tag.toString)
      try body finally sc.setLocalProperty(Tracer.SpanProperty, null)
    }

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  /** A span's duration minus the part of it that its child spans cover. */
  def selfMs(s: Span): Long = s.durMs - Intervals.unionMs(children(s.id).map(c => (c.startMs, c.endMs)))

  /** Ids of `s` and every span below it. */
  def subtree(s: Span): Set[Int] = {
    val kids = children(s.id)
    kids.flatMap(subtree).toSet + s.id
  }

  /** Spans as JSON lines, one object per span, with the engine counters
    * of the jobs submitted while it was the innermost open span and its
    * driver gap: self time minus the union of those jobs' intervals.
    */
  def jsonLines(collector: Collector): Seq[String] = spans.toSeq.map { s =>
    val c = collector.sum(Seq(s.id))
    val self = selfMs(s)
    s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":$self,""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskMs},""" +
      s""""task_cpu_ms":${c.taskCpuNs / 1000000},"gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""spill_bytes":${c.spillBytes},"driver_gap_ms":${self - Intervals.unionMs(c.jobIntervals.toSeq)}}"""
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

object Intervals {
  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark engine counters summed per span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; jobIntervals ++= o.jobIntervals
  }
}

/** Listener that attributes each job, and its stages and tasks, to the
  * span named by the job's [[Tracer.SpanProperty]]. Jobs submitted with no
  * span open are kept under id -1.
  */
final class Collector extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]

  private def at(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .fold(-1)(_.toInt)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    at(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      at(span).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counters of the given spans, summed. Call after [[drain]]. */
  def sum(spans: Iterable[Int]): Counters = synchronized {
    val total = new Counters
    spans.foreach(s => bySpan.get(s).foreach(total.add))
    total
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
