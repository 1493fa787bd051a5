package perfbench

import java.io.File
import java.util.BitSet
import java.util.concurrent.atomic.AtomicInteger

import graft.api.{HttpShim, QueryService}
import graft.functions.TextFunctions
import graft.search.SearchQueries
import graft.streaming.{Compaction, LiveEngineMaintainer}

import scala.util.Random

/** `ingest-live`: a fixed amount of writes beside reads. Set-up commits
  * the first `Initial` docs of a seeded order into a
  * `LiveEngineMaintainer`. Then one writer runs `Compaction.compactEngine`
  * over that store and commits one micro-batch of the next `BatchDocs`
  * docs on top of the compacted base, while two closed-loop readers query
  * `HttpShim.live` (`/query` with the `search-hot` mix, and every
  * fourth request `/count`) for as long as the writer runs. The work does
  * not depend on `--seconds`, so its figures repeat from run to run; one
  * compaction and one micro-batch are what the benchmark's time budget
  * allows (perfbench/README.md). Before the writer starts, the readers
  * run unmeasured for `SearchWorkloads.SettleSeconds`, as on `search-hot`.
  *
  * The readers cannot know which version served them, so a reply is
  * checked against the two prefixes of the stream that bound it: what was
  * committed when the request was sent, and what was committed or being
  * committed when the reply arrived.
  */
object IngestLive {
  val Limit = 100
  val Readers = 2
  /** Docs in the store before measurement starts (set-up's first batch). */
  val Initial = 400
  val BatchDocs = 250

  /** `HttpShim.live`, or when tracing the same construction with the
    * per-request snapshot resolution timed as a span.
    */
  private def shimFor(ctx: Ctx, m: LiveEngineMaintainer): HttpShim = ctx.tracer match {
    case None => HttpShim.live(m)
    case Some(t) =>
      val resolver = QueryService.versioned(m, TextFunctions.tokenizeWs(_))
      def latest(): QueryService = t.span("streaming.resolve") { s =>
        val snap = m.serveSnapshot().getOrElse(
          throw new NoSuchElementException("empty engine store"))
        s.attr("deltas", snap.keyLatest._2.size.toDouble)
        resolver(snap.latest).getOrElse(throw new NoSuchElementException(
          s"snapshot at version ${snap.latest} was compacted away during the request"))
      }
      new HttpShim(latest(), serviceAt = resolver, liveResolver = Some(() => latest()))
  }

  def run(ctx: Ctx): Outcome = {
    val seed = ctx.args.seed
    val corpus = new Corpus(seed)
    val order = new Random(seed + 29).shuffle(corpus.docs)
    val pos = new Array[Int](corpus.size)
    order.zipWithIndex.foreach { case (d, i) => pos(d.docId.toInt) = i }
    val queries = new Queries(corpus, seed)
    val warm = queries.cover.toIndexedSeq
    val stream = queries.hot(stream = 1)
    val next = () => stream.synchronized(stream.next())
    // Settling draws from its own generator, so the measured requests are
    // the same for a seed however many requests settling took.
    val settle = new Queries(corpus, seed + 1).hot(stream = 2)
    def frame(ds: Seq[Doc]) = SearchWorkloads.docsFrame(ctx.spark, ds)

    /** Hits of `e` among the first `prefix` docs of the stream. */
    def hitsIn(e: BitSet, prefix: Int): Int = {
      var n = 0
      var i = e.nextSetBit(0)
      while (i >= 0) { if (pos(i) < prefix) n += 1; i = e.nextSetBit(i + 1) }
      n
    }
    /** Sends one request; its check takes the committed prefix before
      * and after it.
      */
    def send(client: Client, rid: Long, q: Query, lo: () => Int, hi: () => Int): Load.Check = {
      val isCount = rid % 4 == 3
      val before = lo()
      val span = ctx.tracer.map(_.open("api.request", rid))
      val r = try { if (isCount) client.count(q.text) else client.query(q.text, Limit) }
        finally span.foreach(s => ctx.tracer.get.close(s))
      val after = hi()
      span.foreach { s =>
        if (!isCount) s.attr("server_ms", r.serverMs)
        s.attr("bytes", r.bytes.toDouble)
      }
      () => {
        val (a, b) = (hitsIn(q.expected, before), hitsIn(q.expected, after))
        if (isCount) Check.count(r, a, b)
        else Check.query(r, id => q.expected.get(id) && pos(id) < after,
          math.min(Limit, a), math.min(Limit, b))
      }
    }

    val warmTally = new Tally
    val t0 = System.nanoTime()
    val dir = new File(ctx.args.work, "live").getPath
    val m = new LiveEngineMaintainer(ctx.spark, dir, SearchQueries.NumPartitions)
    var build: Span = null
    ctx.trace("ingest.build") { s => build = s; m.processBatch(frame(order.take(Initial)), 0L) }
    val shim = ctx.trace("ingest.load")(_ => shimFor(ctx, m)).start()
    warmTally.add(Load.closed(ctx.args.nproc, shim.boundPort, () => true, warm.size) { (client, i) =>
      send(client, -1L - i, warm(i.toInt), () => Initial, () => Initial)
    })
    val setupS = (System.nanoTime() - t0) / 1e9
    build.attr("bytes", Host.bytesUnder(dir).toDouble)

    val committed = new AtomicInteger(Initial) // docs whose batch has committed
    val pending = new AtomicInteger(Initial)   // ... plus the batch being written
    @volatile var writing = true
    var writerS = 0.0
    var compactS = 0.0
    @volatile var writerError: Option[Throwable] = None
    val writer = new Thread(() => try {
      val t0 = System.nanoTime()
      var span: Span = null
      val through = ctx.trace("streaming.compact") { s =>
        span = s
        Compaction.compactEngine(ctx.spark, dir, deleteSubsumed = false)
      }
      compactS = (System.nanoTime() - t0) / 1e9
      if (ctx.tracer.isDefined) span.attr("bytes_written", Host.bytesUnder(s"$dir/c$through").toDouble)
      val b = order.slice(Initial, Initial + BatchDocs)
      pending.set(Initial + b.size)
      ctx.trace("streaming.batch") { s => span = s; m.processBatch(frame(b), 1L) }
      committed.set(Initial + b.size)
      if (ctx.tracer.isDefined) {
        span.attr("docs", b.size.toDouble)
        span.attr("input_bytes", corpus.textBytes(b).toDouble)
        span.attr("bytes_written", Host.bytesUnder(s"$dir/v1").toDouble)
      }
      writerS = (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable => writerError = Some(e) } finally writing = false)
    val settleEnd = System.nanoTime() + (SearchWorkloads.SettleSeconds * 1e9).toLong
    warmTally.add(Load.closed(Readers, shim.boundPort, () => System.nanoTime() < settleEnd) {
      (client, i) => send(client, -1L - warm.size - i, settle.synchronized(settle.next()),
        () => Initial, () => Initial)
    })
    var cpuNs = 0L
    val tally = ctx.trace("run.measure") { _ =>
      val cpu0 = Host.processCpuNs()
      writer.start()
      try Load.closed(Readers, shim.boundPort, () => writing) { (client, rid) =>
        send(client, rid, next(), () => committed.get, () => pending.get)
      } finally { writer.join(); shim.stop(); cpuNs = Host.processCpuNs() - cpu0 }
    }
    writerError.foreach(e => throw e)
    Compaction.sweepSubsumed(dir, LiveEngineMaintainer.CoreParts)
    val total = committed.get
    Outcome(
      attempted = tally.attempted.get + warmTally.attempted.get,
      failed = tally.failed.get + warmTally.failed.get,
      metrics = Seq(("setup_s", ctx.sessionStartS + setupS, "s")) ++
        tally.latencyMetrics ++ Seq(
          ("throughput_per_s", BatchDocs / writerS, "1/s")),
      info = Seq("session_start_s" -> ctx.sessionStartS, "setup_after_session_s" -> setupS,
        "readers" -> Readers, "reads_per_s" -> tally.qps,
        "cpu_ms_per_request" -> cpuNs / 1e6 / (tally.attempted.get - tally.failed.get),
        "docs_streamed" -> (total - Initial), "writer_s" -> writerS,
        "compact_s" -> compactS, "ingest_docs_per_s" -> BatchDocs / writerS,
        "stored_bytes_ratio" -> Host.bytesUnder(dir).toDouble / corpus.textBytes(order.take(total)))
        ++ tally.latencyFacts,
      errors = warmTally.errors ++ tally.errors)
  }
}
