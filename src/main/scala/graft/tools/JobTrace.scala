package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** The tools' one SparkListener: the traced body's wall time; per job
  * its start/end time, stage names and task counts; per stage its task
  * count, the sum and max of per-task shuffle-read bytes, and the max
  * task run time. `JobTrace(sc)(body)` attaches it for `body` only and
  * drains the listener bus before returning.
  */
final class JobTrace private () extends SparkListener {
  import JobTrace._

  private val jobMap   = mutable.LinkedHashMap.empty[Int, Job]
  private val stageMap = mutable.LinkedHashMap.empty[Int, Stage]
  private var events   = 0L

  /** Wall seconds of the traced body, excluding the drain. */
  var wall = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobMap(e.jobId) = Job(e.jobId, e.time,
      e.stageInfos.map(s => s"${s.name.takeWhile(_ != '(').trim}[${s.numTasks}]"),
      e.stageInfos.map(_.numTasks).sum)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobMap.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (e.taskMetrics != null) {
      val s = stageMap.getOrElseUpdate(e.stageId, Stage())
      val b = e.taskMetrics.shuffleReadMetrics.totalBytesRead
      s.tasks += 1; s.sumBytes += b
      s.maxBytes = math.max(s.maxBytes, b)
      s.maxMs = math.max(s.maxMs, e.taskMetrics.executorRunTime)
    }
  }

  /** Jobs that reported their end, in start order. */
  def jobs: Seq[Job] = synchronized(jobMap.values.filter(_.end != 0L).toSeq)

  def stages: Seq[Stage] = synchronized(stageMap.values.toSeq)

  // The body's jobs have all finished, but their events may still be
  // queued on the bus. "No job open" alone is not quiescence: a short
  // final job may have NEITHER event delivered yet, and one quiet poll
  // can be a bus-thread GC pause. So the (events seen, jobs open)
  // snapshot must hold, with no job open, across two consecutive polls;
  // the deadline bounds the wait on a busy bus.
  private def drain(): Unit = {
    def snapshot = synchronized((events, jobMap.values.count(_.end == 0L)))
    val deadline = System.nanoTime() + 10_000_000_000L
    var prev   = (-1L, -1)
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = snapshot
      if (cur == prev && cur._2 == 0) stable += 1 else stable = 0
      prev = cur
    }
    val open = snapshot._2
    if (open > 0)
      println(s"  WARNING: $open job(s) missing onJobEnd at the " +
        "drain deadline — job count/time below UNDERSTATE the query")
  }
}

object JobTrace {
  /** `stages` are "name[tasks]"; `end` stays 0 until the job reports it. */
  final case class Job(id: Int, start: Long, stages: Seq[String], tasks: Int, var end: Long = 0L)

  final case class Stage(var tasks: Int = 0, var sumBytes: Long = 0L,
      var maxBytes: Long = 0L, var maxMs: Long = 0L)

  /** Runs `body` with a fresh trace attached; returns its result and the
    * drained trace. */
  def apply[T](sc: SparkContext)(body: => T): (T, JobTrace) = {
    val t = new JobTrace
    sc.addSparkListener(t)
    try {
      val t0 = System.nanoTime()
      val r  = body
      t.wall = (System.nanoTime() - t0) / 1e9
      t.drain()
      (r, t)
    } finally sc.removeSparkListener(t)
  }
}
