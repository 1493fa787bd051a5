package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets.UTF_8
import java.util.BitSet
import java.util.concurrent.ConcurrentHashMap

import graft.api.{Document, Field, QueryService, Results}
import graft.functions.TextFunctions
import graft.query.{QueryParser, WikiSearchEngine}
import org.apache.spark.sql.Row

/** One HTTP response as the client saw it. */
final case class Reply(status: Int, body: String, serverMs: Double, resultCount: Int) {
  def bytes: Int = body.getBytes(UTF_8).length
}

/** One client connection: a JDK `java.net.http` client speaking
  * HTTP/1.1, used by one thread at a time, so it keeps one socket alive.
  */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def get(path: String, params: (String, String)*): Reply = {
    val qs = params.map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path?$qs")).GET().build()
    val resp = http.send(req, BodyHandlers.ofString(UTF_8))
    def header(h: String): Option[String] = {
      val v = resp.headers().firstValue(h)
      if (v.isPresent) Some(v.get) else None
    }
    Reply(resp.statusCode(), resp.body(),
      header("X-Query-Millis").map(_.toDouble).getOrElse(Double.NaN),
      header("X-Result-Count").map(_.toInt).getOrElse(-1))
  }

  def query(q: String, limit: Int): Reply =
    get("/query", "query" -> q, "format" -> "xml", "limit" -> limit.toString)

  def count(q: String): Reply = get("/count", "query" -> q)
}

/** Output checks against the corpus oracle. Each returns None when the
  * reply is right, or what was wrong.
  */
object Check {
  private val DocId = "<document id=\"([^\"]*)\">".r
  private val CountField = "\"count\":(\\d+)".r

  /** A `/query` reply: `X-Result-Count` within [minCount, maxCount], one
    * `<document>` per counted row, no id twice, every id allowed.
    */
  def query(r: Reply, allowed: Int => Boolean, minCount: Int, maxCount: Int): Option[String] =
    if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(200)}")
    else {
      val ids = DocId.findAllMatchIn(r.body).map(_.group(1)).toSeq
      if (r.resultCount < minCount || r.resultCount > maxCount)
        Some(s"X-Result-Count ${r.resultCount} outside [$minCount, $maxCount]")
      else if (ids.size != r.resultCount) Some(s"${ids.size} documents for X-Result-Count ${r.resultCount}")
      else if (ids.distinct.size != ids.size) Some("a document id repeats")
      else ids.find(id => !id.forall(_.isDigit) || !allowed(id.toInt)).map(id => s"unexpected id $id")
    }

  /** A `/query` reply over a fixed corpus. */
  def query(r: Reply, expected: BitSet, limit: Int): Option[String] = {
    val n = math.min(limit, expected.cardinality())
    query(r, expected.get _, n, n)
  }

  /** A `/count` reply: the count within [minCount, maxCount]. */
  def count(r: Reply, minCount: Int, maxCount: Int): Option[String] =
    if (r.status != 200) Some(s"status ${r.status}: ${r.body.take(200)}")
    else CountField.findFirstMatchIn(r.body).map(_.group(1).toInt) match {
      case Some(n) if n >= minCount && n <= maxCount => None
      case other => Some(s"count $other outside [$minCount, $maxCount]")
    }
}

/** A `QueryService` whose `/query` path is split into the layer calls
  * `QueryService.query` makes, each timed as a span: parse, plan
  * (`engine.run`, which returns a lazy DataFrame), execute
  * (`.limit(n).collect()`) and result shaping (`Results.toXml`, which the
  * shim calls after `query` returns). `requests` maps a query string to
  * the client span of the request carrying it; the benchmark never has
  * two requests with one string in flight.
  */
final class TracedService(engine: WikiSearchEngine, tracer: Tracer,
    requests: ConcurrentHashMap[String, Span])
    extends QueryService(engine, TextFunctions.tokenizeWs(_)) {

  override def query(q: String, auths: Seq[String], limit: Int): Results = {
    val parent = Option(requests.get(q))
    val docs = tracer.span("api.serve", parent) { _ =>
      tracer.span("query.parse")(_ => QueryParser.parse(q))
      val df = tracer.span("query.plan")(_ => engine.run(q, auths))
      val rows = tracer.span("query.exec") { s =>
        val r = df.limit(limit).collect()
        s.attr("rows", r.length.toDouble)
        r
      }
      rows.toSeq.map(toDocument)
    }
    new Results(docs) {
      override def toXml: String = tracer.span("api.shape", parent)(_ => super.toXml)
    }
  }

  /** The same row → Document mapping as `QueryService`'s private one. */
  private def toDocument(r: Row): Document = {
    val fields = r.getAs[Map[String, scala.collection.Seq[String]]]("fields").toSeq
      .flatMap { case (name, vals) => vals.toSeq.map(v => Field(name, v)) }
      .sortBy(f => (f.name, f.value))
    Document(r.getAs[String]("docId"), r.getAs[String]("DOCUMENT"), fields)
  }
}
