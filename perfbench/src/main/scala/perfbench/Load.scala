package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Latencies and outcomes of the operations one load phase ran. */
final class Tally {
  private val lat = new ConcurrentLinkedQueue[java.lang.Double]()
  private val errs = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  @volatile var elapsedS = 0.0

  def record(latencyMs: Double, err: Option[String]): Unit = {
    attempted.incrementAndGet()
    lat.add(latencyMs)
    err.foreach { e => failed.incrementAndGet(); errs.add(e) }
  }

  /** Folds another phase's outcomes into this one. */
  def add(o: Tally): Unit = {
    lat.addAll(o.lat); errs.addAll(o.errs)
    attempted.addAndGet(o.attempted.get); failed.addAndGet(o.failed.get)
    ()
  }

  def latencies: Seq[Double] = lat.asScala.map(_.doubleValue).toSeq
  def errors: Seq[String] = errs.asScala.toSeq
  def qps: Double = (attempted.get - failed.get) / elapsedS

  /** p50 and p90 latency. p90 is the highest fixed percentile a run's
    * samples support: `search-hot` leaves 11–15 samples beyond it and
    * `ingest-live` about seven; on `batch-registry`, eight entry runs a
    * pass, it is the slowest entry's time. `samples_beyond_p90` is printed
    * with every run.
    */
  def latencyMetrics: Seq[(String, Double, String)] = {
    val xs = latencies
    Seq(("latency_p50_ms", Stats.median(xs), "ms"), ("latency_p90_ms", Stats.pct(xs, 0.9), "ms"))
  }
  def latencyFacts: Seq[(String, Any)] = {
    val xs = latencies
    val p90 = Stats.pct(xs, 0.9)
    Seq("samples" -> xs.size, "samples_beyond_p90" -> xs.count(_ > p90),
      "latency_p99_ms" -> Stats.pct(xs, 0.99), "latency_max_ms" -> xs.max)
  }
}

/** The closed-loop request driver. `op` sends one request on the
  * thread's own connection and returns the check of its reply; the
  * latency is taken when `op` returns, before the check runs. An
  * exception in either counts as a failure.
  */
object Load {
  type Check = () => Option[String]

  /** Times `op`, then runs the check it returned, into `tally`. */
  def timed(tally: Tally)(op: => Check): Unit = {
    val s = System.nanoTime()
    val sent = try Right(op) catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - s) / 1e6
    tally.record(ms, sent match {
      case Right(check) => try check() catch { case e: Exception => Some(e.toString) }
      case Left(err)    => Some(err)
    })
  }

  /** `threads` clients, each sending its next request only after the
    * previous one completed, while `more()` holds and fewer than `limit`
    * requests were sent. Request ids count up from 0.
    */
  def closed(threads: Int, port: Int, more: () => Boolean, limit: Long = Long.MaxValue)
      (op: (Client, Long) => Check): Tally = {
    val tally = new Tally
    val ids = new AtomicLong
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        val client = new Client(port)
        var id = 0L
        while (more() && { id = ids.getAndIncrement(); id < limit }) timed(tally)(op(client, id))
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    tally.elapsedS = (System.nanoTime() - t0) / 1e9
    tally
  }

  def closedFor(threads: Int, port: Int, seconds: Double)(op: (Client, Long) => Check): Tally = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    closed(threads, port, () => System.nanoTime() < deadline)(op)
  }

}
