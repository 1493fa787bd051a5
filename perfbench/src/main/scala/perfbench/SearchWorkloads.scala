package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import graft.Tables
import graft.api.{HttpShim, QueryService}
import graft.functions.TextFunctions
import graft.ingest.{IndexBuilder, WikiIndex}
import graft.query.WikiSearchEngine
import graft.search.SearchQueries
import graft.streaming.LiveEngineMaintainer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** `search-hot` over one saved index, served by `HttpShim`: closed loop,
  * `nproc` connections, never-repeated ANDs of 3–5 common TEXT words.
  * After warm-up every leaf is a term-cache hit; time goes to the event
  * scan + residual, shaping and transport.
  */
object SearchWorkloads {
  val Limit = 100
  /** Seconds of unmeasured load between set-up and measurement. The JIT
    * keeps speeding up the serving path for tens of seconds after set-up,
    * and measuring straight after it spread latency and throughput by
    * about 0.2 from run to run (perfbench/RESULTS.md).
    */
  val SettleSeconds = 4.0

  /** The generated `documents` table as a DataFrame, in the schema the
    * program's documents-table ingest reads.
    */
  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.nChars)).asJava,
      LiveEngineMaintainer.DocumentsSchema)

  /** Writes the input table once per run, one file per core so the
    * build's scans can use every core; not part of set-up time.
    */
  private def writeInput(ctx: Ctx, corpus: Corpus): String = {
    val dir = ctx.dir("input")
    docsFrame(ctx.spark, corpus.docs).repartition(ctx.args.nproc)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private final case class Stack(shim: HttpShim, indexDir: String, buildS: Double, setupS: Double)

  /** Build + save the index, load it on an AQE-off serving session (as
    * `SearchQueries.engine` does), construct the engine, start the shim and
    * warm it up with `warm`, each reply checked.
    */
  private def setup(ctx: Ctx, input: String, warm: IndexedSeq[Query],
      service: WikiSearchEngine => QueryService, tally: Tally): Stack = {
    val t0 = System.nanoTime()
    val indexDir = new File(ctx.args.work, "index").getPath
    var build: Span = null
    ctx.trace("ingest.build") { s =>
      build = s
      IndexBuilder.fromDocumentsTable(ctx.spark, Tables.load(ctx.spark, input, "documents"),
        SearchQueries.NumPartitions).save(indexDir)
    }
    val buildS = (System.nanoTime() - t0) / 1e9
    val engine = ctx.trace("ingest.load") { _ =>
      val serving = ctx.spark.newSession()
      serving.conf.set("spark.sql.adaptive.enabled", "false")
      val ix = WikiIndex.load(serving, indexDir)
      ix.metadata.cache()
      new WikiSearchEngine(serving, ix)
    }
    val shim = new HttpShim(service(engine)).start()
    tally.add(Load.closed(ctx.args.nproc, shim.boundPort, () => true, warm.size) { (client, i) =>
      val q = warm(i.toInt)
      val r = client.query(q.text, Limit)
      () => Check.query(r, q.expected, Limit)
    })
    val setupS = (System.nanoTime() - t0) / 1e9
    build.attr("bytes", Host.bytesUnder(indexDir).toDouble)
    Stack(shim, indexDir, buildS, setupS)
  }

  /** Sets up, lets the server settle under `SettleSeconds` of the same
    * load, then measures `nproc` closed-loop clients for `--seconds`.
    * Set-up is timed once per run, cold: a second set-up would not fit the
    * benchmark's time budget (perfbench/README.md).
    */
  def hot(ctx: Ctx): Outcome = {
    val corpus = new Corpus(ctx.args.seed)
    val queries = new Queries(corpus, ctx.args.seed)
    val warm = queries.cover.toIndexedSeq
    val stream = queries.hot(stream = 1)
    // Settling draws from its own generator, so the measured requests are
    // the same for a seed however many requests settling took.
    val settle = new Queries(corpus, ctx.args.seed + 1).hot(stream = 2)
    val requests = new ConcurrentHashMap[String, Span]()
    val service: WikiSearchEngine => QueryService = engine => ctx.tracer match {
      case Some(t) => new TracedService(engine, t, requests)
      case None    => new QueryService(engine, TextFunctions.tokenizeWs(_))
    }
    val warmTally = new Tally
    val st = setup(ctx, writeInput(ctx, corpus), warm, service, warmTally)
    def load(qs: Iterator[Query], seconds: Double, measured: Boolean) =
      Load.closedFor(ctx.args.nproc, st.shim.boundPort, seconds) { (client, id) =>
        val q = qs.synchronized(qs.next())
        val r = send(ctx, requests, client, if (measured) id else -1 - id, q.text)
        () => Check.query(r, q.expected, Limit)
      }
    var cpuNs = 0L
    val tally =
      try {
        warmTally.add(load(settle, SettleSeconds, measured = false))
        val cpu0 = Host.processCpuNs()
        val out = ctx.trace("run.measure")(_ => load(stream, ctx.args.seconds, measured = true))
        cpuNs = Host.processCpuNs() - cpu0
        out
      } finally st.shim.stop()
    val completed = tally.attempted.get - tally.failed.get
    val storedBytes = Host.bytesUnder(st.indexDir).toDouble
    Outcome(
      attempted = tally.attempted.get + warmTally.attempted.get,
      failed = tally.failed.get + warmTally.failed.get,
      metrics = Seq(("setup_s", ctx.sessionStartS + st.setupS, "s")) ++ tally.latencyMetrics ++ Seq(
        ("throughput_per_s", tally.qps, "1/s")),
      info = Seq("session_start_s" -> ctx.sessionStartS, "setup_after_session_s" -> st.setupS,
        "cpu_ms_per_request" -> cpuNs / 1e6 / completed,
        "build_s" -> st.buildS, "build_docs_per_s" -> corpus.size / st.buildS,
        "stored_bytes_ratio" -> storedBytes / corpus.textBytes(corpus.docs),
        "clients" -> ctx.args.nproc, "settle_s" -> SettleSeconds) ++ tally.latencyFacts,
      errors = warmTally.errors ++ tally.errors)
  }

  /** The client side of one traced `/query`: a request span the server
    * side attaches its spans to, with the reply's wire facts.
    */
  private def send(ctx: Ctx, requests: ConcurrentHashMap[String, Span], client: Client,
      rid: Long, q: String): Reply =
    ctx.tracer match {
      case None => client.query(q, Limit)
      case Some(t) =>
        val s = t.open("api.request", rid)
        requests.put(q, s)
        val r = try client.query(q, Limit) finally { t.close(s); requests.remove(q) }
        s.attr("server_ms", r.serverMs)
        s.attr("bytes", r.bytes.toDouble)
        r
    }
}
