package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch nanoseconds so they line
  * up with the Spark listener's epoch-millisecond job times.
  */
final class Span(val id: Long, val parent: Long, val rid: Long, val name: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs = new ConcurrentHashMap[String, Double]()
  def attr(k: String, v: Double): Unit = { attrs.put(k, v); () }
}

/** Spans recorded around the benchmark's own calls into the program's
  * public functions, kept in memory and written out once at the end.
  *
  * Spark work is attributed to the innermost open span of the thread that
  * submitted it: `span` sets the thread-local SparkContext property
  * `perfbench.span` for the duration of the call, and [[JobListener]]
  * reads it back from each job's properties.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanKey

  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochBaseNs

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  val jobs = new JobListener
  sc.addSparkListener(jobs)

  /** Open a span whose end the caller records with `close`; for spans
    * that start on one thread and are looked up from another (a client
    * request and the server work it causes).
    */
  def open(name: String, rid: Long, parent: Long = 0L): Span =
    new Span(ids.incrementAndGet(), parent, rid, name, nowNs())

  def close(s: Span): Unit = { s.endNs = nowNs(); spans.add(s); () }

  /** Time `body` as a child of `parent` (default: this thread's open span). */
  def span[T](name: String, parent: Option[Span] = None)(body: Span => T): T = {
    val outer = current.get
    val p = parent.orElse(Option(outer))
    val s = open(name, p.map(_.rid).getOrElse(-1L), p.map(_.id).getOrElse(0L))
    val prevProp = sc.getLocalProperty(SpanKey)
    current.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s)
    finally {
      close(s)
      current.set(outer)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * a marker job is submitted last, and events arrive in order.
    */
  def drain(): Unit = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, Tracer.Marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobs.markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    require(jobs.markerSeen, "Spark listener bus did not drain within 30 s")
  }

  /** Write every span and job as one JSON object per line. */
  def dump(path: String, header: Map[String, Any]): Unit = {
    drain()
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(Json.obj(header + ("type" -> "run")))
      spans.asScala.toSeq.sortBy(_.id).foreach { s =>
        out.println(Json.obj(Map(
          "type" -> "span", "id" -> s.id, "parent" -> s.parent, "rid" -> s.rid,
          "name" -> s.name, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
          "attrs" -> s.attrs.asScala.toMap)))
      }
      jobs.records.filter(_.span != Tracer.Marker).foreach { j =>
        out.println(Json.obj(Map(
          "type" -> "job", "id" -> j.id, "span" -> j.span,
          "start_ms" -> j.startMs.toDouble, "end_ms" -> j.endMs.toDouble,
          "first_launch_ms" -> (if (j.firstLaunchMs == Long.MaxValue) j.endMs else j.firstLaunchMs).toDouble,
          "stages" -> j.stagesRun, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
          "records_read" -> j.recordsRead, "shuffle_read_bytes" -> j.shuffleReadBytes,
          "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes)))
      }
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private[perfbench] val Marker = -1L
}

/** Per-job Spark work, keyed by the span that submitted the job. */
final class JobRecord(val id: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  @volatile var stagesRun = 0
  @volatile var tasks = 0
  @volatile var taskMs = 0L
  @volatile var recordsRead = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** The benchmark's SparkListener. Events arrive on Spark's single
  * listener thread, so each record has one writer.
  */
final class JobListener extends SparkListener {
  private val byJob = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var markerSeen = false

  def records: Seq[JobRecord] = byJob.values().asScala.toSeq.sortBy(_.id)

  private def jobOfStage(stageId: Int): Option[JobRecord] =
    Option(stageJob.get(stageId)).flatMap(j => Option(byJob.get(j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    byJob.put(e.jobId, new JobRecord(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.span == Tracer.Marker) markerSeen = true
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOfStage(e.stageInfo.stageId).foreach(j => j.stagesRun += 1)

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    jobOfStage(e.stageId).foreach(j =>
      j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOfStage(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.recordsRead += m.inputMetrics.recordsRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Just enough JSON writing for flat records of numbers, strings and maps. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null                                  => "null"
    case s: String                             => str(s)
    case b: Boolean                            => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                             => java.lang.Double.toString(d)
    case f: Float                              => value(f.toDouble)
    case n: Number                             => n.toString
    case m: Map[_, _]                          => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]                       => xs.map(value).mkString("[", ",", "]")
    case other                                 => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
