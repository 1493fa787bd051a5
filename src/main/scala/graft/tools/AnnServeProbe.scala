package graft.tools

import graft.Sessions
import graft.api.{AnalyticsService, HttpShim, QueryService}
import graft.functions.TextFunctions.tokenizeWs

import org.apache.spark.sql.functions._

/** Serving-latency probe for the round-11 analytics routes (not part
  * of the driver surface): builds REAL live stores from the sf dir —
  * an ANN store over the embeddings table, a CMS store over events
  * user_ids, a quantile store over lineitem quantities, a DSIR model
  * store over documents — starts the HTTP shim on an ephemeral port,
  * and measures warm end-to-end wire latency (p50/p95 of `n` requests)
  * per route. The numbers back SCALE.md's claim that the sketch/model
  * routes serve from bounded merged state (flat vs corpus) while /ann
  * pays exactly one probe-join-score job per request.
  * Usage: `AnnServeProbe <sfDir> [n=50]`.
  */
object AnnServeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n     = args.lift(1).map(_.toInt).getOrElse(50)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-probe").toString

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val am = new graft.streaming.LiveAnnMaintainer(spark, s"$tmp/ann")
    am.processBatch(emb, 0L)

    val ev = graft.Tables.load(spark, sfDir, "events")
    val cm = new graft.streaming.LiveSketchMaintainer(spark, s"$tmp/cms")
    cm.processBatch(ev.select("user_id"), 0L)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      col("l_returnflag").as("g"),
      (col("l_orderkey") * 8 + col("l_linenumber").cast("long")).as("key"),
      col("l_quantity").cast("double").as("v"))
    val qm = new graft.streaming.LiveQuantileMaintainer(spark, s"$tmp/qs")
    qm.processBatch(li, 0L)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mm = new graft.streaming.LiveDsirModelMaintainer(spark, s"$tmp/dsir")
    mm.processBatch(docs, col("lang") === "en", 0L)

    val someIds = emb.select("vec_id").limit(n).collect().map(_.getLong(0))
    val someTok = docs.select(explode(tokenizeWs(col("text"))))
      .limit(n).collect().map(_.getString(0))

    val svc = new AnalyticsService(Some(cm), Some(qm), Some(mm), None, Some(am))
    val shim = new HttpShim(
      new QueryService(graft.search.SearchQueries.engine(spark, sfDir)),
      analytics = svc).start()
    val port = shim.boundPort
    val http = java.net.http.HttpClient.newHttpClient()

    def get(path: String): Int = {
      val rq = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path")).build()
      http.send(rq, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    def measure(name: String, paths: Seq[String]): Unit = {
      paths.take(5).foreach(get) // warm: plans compiled, state merged once
      val ms = paths.map { p =>
        val t0 = System.nanoTime()
        val st = get(p)
        require(st == 200, s"$name -> $st on $p")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"$name%-18s p50 ${ms(ms.size / 2)}%8.1f ms   p95 ${ms(math.min(ms.size - 1, ms.size * 95 / 100))}%8.1f ms   n=${ms.size}")
    }

    // in-process service cost (no wire): the honest serving numbers —
    // the HTTP rows below additionally carry the JDK-server transport
    // constant, which the /health baseline isolates
    def measureSvc(name: String, calls: Seq[() => String]): Unit = {
      calls.take(5).foreach(_.apply())
      val ms = calls.map { c =>
        val t0 = System.nanoTime(); c(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"$name%-18s p50 ${ms(ms.size / 2)}%8.1f ms   p95 ${ms(math.min(ms.size - 1, ms.size * 95 / 100))}%8.1f ms   n=${ms.size}  (in-process)")
    }

    try {
      measureSvc("svc.cms", someIds.toSeq.map(id => () => svc.cmsEstimate(id % 1000)))
      measureSvc("svc.quantiles", (0 until n).map(_ => () => svc.groupQuantiles(None)))
      measureSvc("svc.dsir", someTok.toSeq.map(t => () => svc.dsirToken(t)))
      measureSvc("svc.ann", someIds.toSeq.map(id => () => svc.annTopK(Left(id), 10, 4)))
      measure("/health (baseline)", (0 until n).map(_ => "/health"))
      measure("/ann (by id)", someIds.toSeq.map(id => s"/ann?id=$id&k=10&nprobe=4"))
      measure("/sketch/cms", someIds.toSeq.map(id => s"/sketch/cms?key=${id % 1000}"))
      measure("/sketch/quantiles", (0 until n).map(_ => "/sketch/quantiles"))
      measure("/model/dsir", someTok.toSeq.map(t =>
        s"/model/dsir?token=${java.net.URLEncoder.encode(t, "UTF-8")}"))
    } finally { shim.stop(); spark.stop() }
  }
}
