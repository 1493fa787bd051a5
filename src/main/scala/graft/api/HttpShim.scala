package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal HTTP serving edge over [[QueryService]] — the REST surface of
  * the reference's JAX-RS endpoints (`query/src/main/java/.../query/
  * IQuery.java:279-315`, `Query.java:94-138`) without a servlet
  * container: the JDK's built-in `com.sun.net.httpserver` is the whole
  * dependency.
  *
  * Routes (reference parity):
  *  - `GET /query?query=…&auths=a,b&limit=N` → boolean-expression search.
  *    Media type by `format` param (`xml|json|yaml|html`) or the Accept
  *    header; XML is the default, as in the reference's first-listed
  *    `@Produces` type.
  *  - `GET /content?id=DOCUMENT:partition/lang/docId` → decoded document
  *    text (`ContentLogic`, `query/.../logic/ContentLogic.java:56-107`).
  *  - `GET /explain?query=…&auths=a,b` → the engine's access-path report
  *    (plan tree, cardinalities, broadcast/shard decisions) with NO
  *    execution — beyond the reference, which only logs this.
  *  - `GET /rank?terms=a,b,c&limit=N` → BM25 top-N (beyond reference);
  *    with `after_score`+`after_id` (the previous page's last row) it
  *    serves the next keyset page — OFFSET-free pagination.
  *  - `GET /count?query=…&auths=…` → `{"count":N,"fast":bool}` — count-
  *    only serving; `fast` reports the index-only path (beyond ref).
  *    Every content-returning route (/query, /count, /rank, /fuzzy,
  *    /snippets, /facets) accepts `auths=a,b` and enforces the same language
  *    visibility filter — an unauthorized document must not leak through
  *    a ranking, a suggestion vocabulary, or a snippet window any more
  *    than through a search hit.
  *  - `GET /facets?query=…&field=F&auths=…` → facet counts (beyond ref).
  *  - `GET /collapse?query=…&field=F&auths=…` → one representative hit
  *    per field value + group size (beyond ref).
  *  - `GET /stats?auths=…` → per-language index catalog statistics
  *    (beyond ref — the ANALYZE surface).
  *  - `GET /complete?prefix=…&limit=N` → prefix autocomplete from the
  *    value-sorted global index (beyond ref).
  *  - `GET /hybrid?terms=a,b&vec=101&limit=N&depth=D&krrf=K` → BM25 ⊕
  *    cosine-ANN Reciprocal Rank Fusion over the configured embeddings
  *    table (beyond ref); 400 when the server has no embeddings.
  *  - `/query` and `/count` accept `asOf=<version>` — LSM time-travel
  *    serving against the snapshot a `serviceAt` resolver returns
  *    (`QueryService.versioned` over a live maintainer); 404 for an
  *    uncommitted or swept version. Every OTHER route serves only the
  *    live store and answers `asOf=` with a 400 (`liveOnly`) — a
  *    silently-ignored snapshot request would be recorded as one —
  *    EXCEPT the analytics routes below, which resolve `asOf=` against
  *    their own stores' committed versions.
  *  - `GET /sketch/cms?key=K[&asOf=V]&auths=…` → `{"version","key",
  *    "estimate"}` from the live CMS store (beyond ref); `GET
  *    /sketch/quantiles[?group=G][&asOf=V]&auths=…` → per-group
  *    p50/p90/p99 (one object, or the sorted array of all groups);
  *    `GET /model/dsir?token=T[&asOf=V]&auths=…` → the token's
  *    quantized importance log-ratio (404 when out-of-model — the DSIR
  *    OOV contract); `GET /ann?id=42&k=10[&asOf=V]` or
  *    `/ann?q=0.1,0.2,…&k=10[&asOf=V]` → IVF top-k from the
  *    tombstone-masked ANN store at the resolved version (the frozen
  *    codebook makes the historical index well-defined — a delete
  *    committed after V does not reach back into V's answer). All serve
  *    through [[AnalyticsService]]: store-level auth (403 without the
  *    required label), exact-version snapshots (swept/uncommitted →
  *    404), 400 when the server has no such store (the /hybrid
  *    no-embeddings precedent).
  *  - `GET /health` → 200 "ok" (operational nicety, not in the reference).
  *
  * Live-latest mode (`HttpShim.live(maintainer)`): the engine routes
  * re-resolve the latest committed version PER REQUEST from disk, so
  * the HTTP edge tracks a concurrent (even out-of-process) writer —
  * the reference's deployment shape, where the web service queries a
  * live Accumulo table. The fixed-`service` constructor remains the
  * immutable-corpus form.
  *
  * Error mapping: bad query syntax / all-negation / bad pointer → 400
  * with the message; unknown path → 404 — the reference surfaces these
  * as WebApplicationException(400) equivalents.
  *
  * Scale note: the shim holds no state and the engine underneath plans
  * with at most one Spark job per query (see `WikiSearchEngine`), so
  * serving concurrency is bounded by the executor pool, not the shim.
  */
class HttpShim(service: QueryService, port: Int = 0, poolSize: Int = 8,
    /** LSM time-travel resolver: version → a QueryService over that
      * committed snapshot (`LiveEngineMaintainer.indexAt`), or None when
      * the version was never committed or its deltas were swept.
      * `QueryService.versioned` builds a memoized one from a maintainer;
      * the default leaves `asOf=` requests a clean 404.
      */
    serviceAt: Long => Option[QueryService] = _ => None,
    /** Live analytics stores (CMS / quantile / DSIR maintainers) served
      * on `/sketch/…` and `/model/…`; the default carries none, so those
      * routes answer a clean 400 (the /hybrid no-embeddings precedent).
      */
    analytics: AnalyticsService = new AnalyticsService(),
    /** LIVE-LATEST engine serving: when set, every engine route
      * re-resolves its QueryService through this thunk per request
      * instead of the fixed `service` — the reference's posture, where
      * the web service queries a live Accumulo table and tablet servers
      * always serve the latest flushed state. `HttpShim.live` builds
      * the standard one from a `LiveEngineMaintainer` (one directory
      * listing per request + a memoized per-(version, read-set)
      * QueryService — the analytics routes' snapshot discipline).
      */
    liveResolver: Option[() => QueryService] = None) {

  /** The engine service this request serves from (see `liveResolver`). */
  private def svc: QueryService = liveResolver.map(_()).getOrElse(service)

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool   = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
  server.setExecutor(pool)

  /** Bound port (useful when constructed with port = 0 / ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  server.createContext("/query", (ex: HttpExchange) => safely(ex) {
    val t0     = System.nanoTime()
    val params = queryParams(ex)
    val (q, auths) = queryAndAuths(params)
    val limit = intParam(params, "limit", default = 100, min = 1, max = 1000000)
    val target = serviceFor(params)
    // the media type resolves BEFORE execution: an unsupported format is
    // a 400 that must not cost a query
    val render: Results => (String, String) =
      params.get("format").orElse(fromAccept(ex)).getOrElse("xml") match {
        case "xml"  => r => ("application/xml", r.toXml)
        case "json" => r => ("application/json", r.toJson)
        case "yaml" => r => ("text/x-yaml", r.toYaml)
        case "html" => r => ("text/html", r.toHtml)
        case other  => throw new IllegalArgumentException(s"unsupported format: $other")
      }
    val results = target.query(q, auths, limit)
    // per-query serving metrics on the wire (set before safely() sends
    // headers): end-to-end parse→plan→execute→collect time + row count
    ex.getResponseHeaders.set("X-Query-Millis",
      ((System.nanoTime() - t0) / 1e6).round.toString)
    ex.getResponseHeaders.set("X-Result-Count", results.documents.size.toString)
    render(results)
  })

  server.createContext("/content", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val id = required(params, "id")
    svc.content(id) match {
      case Some(text) => ("text/plain; charset=utf-8", text)
      case None       => throw new NoSuchElementException(s"document not found: $id")
    }
  })

  server.createContext("/explain", (ex: HttpExchange) => safely(ex) {
    val (q, auths) = queryAndAuths(liveOnly(queryParams(ex)))
    // All-negation is a client error on this route too, but explain is a
    // diagnostic — report the rejection as the BODY, like a planner would
    ("text/plain; charset=utf-8", svc.explain(q, auths))
  })

  // Beyond-reference search-result surfaces: ranked retrieval and facet
  // counts (WikiSearchEngine.rank/facets through QueryService).
  //  - `GET /rank?terms=a,b,c&limit=N` → BM25 top-N as JSON
  //  - `GET /facets?query=…&field=SOURCE&auths=…` → facet counts as JSON
  server.createContext("/rank", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val terms = required(params, "terms")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (terms.isEmpty) throw new IllegalArgumentException("terms is empty")
    val limit = intParam(params, "limit", default = 10, min = 1, max = 1000000)
    // keyset pagination: the client echoes the previous page's last row
    // as (after_score, after_id); both-or-neither
    (params.get("after_score"), params.get("after_id")) match {
      case (Some(s), Some(id)) =>
        ("application/json", svc.rankAfter(terms,
          numeric("after_score", s)(_.toDouble), id, limit, authsOf(params)))
      case (None, None) =>
        ("application/json", svc.rank(terms, limit, authsOf(params)))
      case _ => throw new IllegalArgumentException(
        "after_score and after_id must be provided together")
    }
  })

  //  - `GET /count?query=…&auths=…` → {"count":N,"fast":bool} — the
  //    result-count badge endpoint; `fast` = answered from the index
  //    alone (no event-store access)
  server.createContext("/count", (ex: HttpExchange) => safely(ex) {
    val params = queryParams(ex)
    val (q, auths) = queryAndAuths(params)
    ("application/json", serviceFor(params).count(q, auths))
  })

  //  - `GET /hybrid?terms=a,b&vec=101&limit=N&depth=D&krrf=K&auths=…` →
  //    BM25 ⊕ cosine-ANN Reciprocal Rank Fusion over the configured
  //    embeddings table, as JSON [{rank,id,score}] — the hybrid
  //    retrieval serving edge (400 when the server has no embeddings)
  server.createContext("/hybrid", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val terms = required(params, "terms")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (terms.isEmpty) throw new IllegalArgumentException("terms is empty")
    val vec = longParam(params, "vec")
    val limit = intParam(params, "limit", default = 20, min = 1, max = 10000)
    val depth = intParam(params, "depth", default = 50, min = 1, max = 100000)
    val kRrf  = intParam(params, "krrf", default = 60, min = 1, max = 1000000)
    if (depth < limit) throw new IllegalArgumentException(
      s"depth must be >= limit: depth=$depth limit=$limit")
    ("application/json",
      svc.hybrid(terms, vec, limit, depth, kRrf, authsOf(params)))
  })

  //  - `GET /fuzzy?term=spark&limit=N` → did-you-mean term suggestions
  //    (edit distance ≤ 1) with document frequency, best-first, as JSON
  server.createContext("/fuzzy", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val term = required(params, "term")
    if (term.trim.isEmpty) throw new IllegalArgumentException("term is empty")
    val limit = intParam(params, "limit", default = 10, min = 1, max = 1000)
    ("application/json", svc.fuzzy(term.trim, limit, authsOf(params)))
  })

  //  - `GET /histogram?query=…&field=NCHARS&lo=0&width=100&buckets=10`
  //    → numeric range-facet counts over the hit set, as JSON
  server.createContext("/histogram", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val (q, auths) = queryAndAuths(params)
    val field = required(params, "field").toUpperCase
    val lo = optLong(params, "lo").getOrElse(0L)
    val width = optLong(params, "width").getOrElse(100L)
    if (width <= 0) throw new IllegalArgumentException(s"width must be > 0: $width")
    val buckets = intParam(params, "buckets", default = 10, min = 1, max = 10000)
    ("application/json", svc.histogram(q, field, lo, width, buckets, auths))
  })

  //  - `GET /mlt?doc=655&limit=N&auths=…` → more-like-this: documents
  //    sharing vocabulary with the source doc, rarity-weighted,
  //    best-first, as JSON
  server.createContext("/mlt", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val doc = required(params, "doc")
    if (doc.trim.isEmpty) throw new IllegalArgumentException("doc is empty")
    val limit = intParam(params, "limit", default = 10, min = 1, max = 10000)
    ("application/json", svc.moreLikeThis(doc.trim, limit, authsOf(params)))
  })

  server.createContext("/facets", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val (q, auths) = queryAndAuths(params)
    val field = required(params, "field")
    ("application/json", svc.facets(q, field, auths))
  })

  //  - `GET /collapse?query=…&field=SOURCE&auths=…` → one representative
  //    hit per field value + collapsed group size, as JSON (auth-gated
  //    like every content-returning route)
  server.createContext("/collapse", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val (q, auths) = queryAndAuths(params)
    val field = required(params, "field")
    ("application/json", svc.collapse(q, field, auths))
  })

  //  - `GET /stats?auths=…` → per-language index catalog statistics
  //    (docs, vocabulary, postings, tokens) as JSON — the ANALYZE surface
  server.createContext("/stats", (ex: HttpExchange) => safely(ex) {
    ("application/json", svc.stats(authsOf(liveOnly(queryParams(ex)))))
  })

  //  - `GET /complete?prefix=sp&limit=N` → top-N indexed terms for the
  //    prefix with document frequencies (the query-box autocomplete),
  //    auth-gated like every vocabulary-returning route
  server.createContext("/complete", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    val prefix = required(params, "prefix")
    if (prefix.trim.isEmpty) throw new IllegalArgumentException("prefix is empty")
    val limit = intParam(params, "limit", default = 10, min = 1, max = 10000)
    ("application/json", svc.complete(prefix.trim, limit, authsOf(params)))
  })

  //  - `GET /snippets?terms=a,b&window=3&limit=N` → per-(doc, term)
  //    first-occurrence context windows as JSON
  //  - `GET /snippets?phrase=a,b&window=3` → adjacent-phrase context
  //    windows as JSON (exactly one of terms/phrase must be present)
  server.createContext("/snippets", (ex: HttpExchange) => safely(ex) {
    val params = liveOnly(queryParams(ex))
    def csv(k: String) = params.get(k).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val (terms, phrase) = (csv("terms"), csv("phrase"))
    val window = intParam(params, "window", default = 3, min = 0, max = 1000)
    val limit  = intParam(params, "limit", default = 100, min = 1, max = 1000000)
    val auths = authsOf(params)
    (terms.nonEmpty, phrase.nonEmpty) match {
      case (true, false) =>
        ("application/json", svc.snippets(terms, window, limit, auths))
      case (false, true) =>
        ("application/json", svc.phraseSnippets(phrase, window, limit, auths))
      case _ => throw new IllegalArgumentException(
        "exactly one of terms= or phrase= is required")
    }
  })

  // ---- live analytics serving (AnalyticsService) --------------------------
  //  - `GET /sketch/cms?key=K[&asOf=V]&auths=…` → CMS point estimate
  //  - `GET /sketch/quantiles[?group=G][&asOf=V]&auths=…` → p50/p90/p99
  //  - `GET /model/dsir?token=T[&asOf=V]&auths=…` → importance log-ratio
  // asOf resolves against the STORE's committed versions (not the engine
  // resolver); store-level auth 403s before anything else is revealed.
  server.createContext("/sketch/cms", (ex: HttpExchange) => safely(ex) {
    val params = queryParams(ex)
    val key = longParam(params, "key")
    ("application/json", analytics.cmsEstimate(key, asOfOf(params), authsOf(params)))
  })

  server.createContext("/sketch/quantiles", (ex: HttpExchange) => safely(ex) {
    val params = queryParams(ex)
    ("application/json",
      analytics.groupQuantiles(params.get("group"), asOfOf(params), authsOf(params)))
  })

  server.createContext("/model/dsir", (ex: HttpExchange) => safely(ex) {
    val params = queryParams(ex)
    val token = required(params, "token")
    if (token.trim.isEmpty) throw new IllegalArgumentException("token is empty")
    ("application/json", analytics.dsirToken(token.trim, asOfOf(params), authsOf(params)))
  })

  //  - `GET /ann?id=42&k=10[&nprobe=4][&asOf=V]&auths=…` → IVF top-k
  //    around a STORED vector (its embedding at the resolved version is
  //    the query; 404 for an id unknown or tombstoned there), as JSON
  //    [{rank,id,cosine}]
  //  - `GET /ann?q=0.1,0.2,…&k=10[&asOf=V]` → same around a RAW vector
  //  asOf resolves against the ANN store's committed versions (the
  //  sketch routes' contract; swept/uncommitted → 404).
  server.createContext("/ann", (ex: HttpExchange) => safely(ex) {
    val params = queryParams(ex)
    val k      = intParam(params, "k", default = 10, min = 1, max = 1000)
    val nprobe = intParam(params, "nprobe", default = 4, min = 1, max = 1024)
    val query = (params.get("id"), params.get("q")) match {
      case (Some(id), None) => Left(numeric("id", id)(_.toLong))
      case (None, Some(csv)) =>
        val v = csv.split(",").map(_.trim).filter(_.nonEmpty)
          .map(numeric("vector component", _)(_.toFloat))
        if (v.isEmpty) throw new IllegalArgumentException("q is empty")
        Right(v)
      case _ => throw new IllegalArgumentException(
        "exactly one of id= or q= is required")
    }
    ("application/json",
      analytics.annTopK(query, k, nprobe, asOfOf(params), authsOf(params)))
  })

  server.createContext("/health", (ex: HttpExchange) => safely(ex)(("text/plain", "ok")))

  def start(): HttpShim = { server.start(); this }

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---- plumbing -----------------------------------------------------------

  /** The serving target for a boolean-query route: the live service, or
    * — with `asOf=<version>` — the time-travel snapshot at that
    * committed version (404 when unknown/swept/unconfigured: from the
    * client's view a missing snapshot is a missing resource). ONE
    * resolver shared by /query and /count so the two cannot drift.
    */
  private def serviceFor(params: Map[String, String]): QueryService =
    asOfOf(params) match {
      case None => svc
      case Some(ver) =>
        serviceAt(ver).getOrElse(throw new NoSuchElementException(
          s"no committed snapshot at version $ver"))
    }

  /** Guard for every route that serves ONLY the live store: a
    * time-travel request there must be an explicit 400, not a silent
    * 200 built from latest data that the client records as a snapshot.
    * (Only /query and /count resolve `asOf=` — `serviceFor`.)
    */
  private def liveOnly(params: Map[String, String]): Map[String, String] = {
    if (params.contains("asOf"))
      throw new IllegalArgumentException(
        "asOf is not supported on this route (snapshots serve on /query and /count)")
    params
  }

  /** The required `query` param + parsed `auths` CSV — ONE parser for
    * every route that takes them, so the routes cannot drift.
    */
  private def queryAndAuths(params: Map[String, String]): (String, Seq[String]) =
    (required(params, "query"), authsOf(params))

  /** The `auths` CSV alone — for routes without a boolean query (/rank,
    * /fuzzy, /snippets). ONE parser shared with queryAndAuths so every
    * content-returning route enforces the same visibility filter.
    */
  private def authsOf(params: Map[String, String]): Seq[String] =
    params.get("auths").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Bounded integer param — ONE parser for every route, like
    * queryAndAuths. The bounds turn client faults into 400s that Spark
    * would otherwise surface as execution-time 500s: a negative
    * limit/window throws inside Dataset.limit/slice, and a window near
    * Int.MaxValue overflows the 2·window+1 slice length negative.
    */
  private def intParam(params: Map[String, String], k: String,
      default: Int, min: Int, max: Int): Int = {
    val v = params.get(k).map(_.toInt).getOrElse(default) // NFE → 400 via safely
    if (v < min || v > max)
      throw new IllegalArgumentException(s"$k must be in [$min, $max]: $v")
    v
  }

  /** Param `k`'s value `v` read by `parse` — ONE numeric reader for
    * every route: a malformed number is a 400 `bad <k>: <v>`.
    */
  private def numeric[T](k: String, v: String)(parse: String => T): T =
    try parse(v)
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad $k: $v") }

  /** Optional long param → 400 on non-numeric. */
  private def optLong(params: Map[String, String], k: String): Option[Long] =
    params.get(k).map(numeric(k, _)(_.toLong))

  /** Required param → 400 on absence. */
  private def required(params: Map[String, String], k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing required parameter: $k"))

  /** Required long param → 400 on absence or non-numeric. */
  private def longParam(params: Map[String, String], k: String): Long =
    numeric(k, required(params, k))(_.toLong)

  /** Optional `asOf=` version — parsed here only: `serviceFor` resolves
    * it against `serviceAt`, the analytics routes against their own
    * store's committed versions.
    */
  private def asOfOf(params: Map[String, String]): Option[Long] = optLong(params, "asOf")

  private def fromAccept(ex: HttpExchange): Option[String] = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    accept.split(",").map(_.trim.takeWhile(_ != ';')).collectFirst {
      case "application/xml" | "text/xml"  => "xml"
      case "application/json"              => "json"
      case "text/x-yaml" | "application/yaml" | "text/yaml" => "yaml"
      case "text/html"                     => "html"
    }
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
      }.toMap

  private def safely(ex: HttpExchange)(body: => (String, String)): Unit = {
    val (status, contentType, payload) =
      try {
        val (ct, out) = body
        (200, ct, out)
      } catch {
        case e: NoSuchElementException   => (404, "text/plain", s"not found: ${e.getMessage}")
        // store-level visibility refusal (AnalyticsService.gate) — a
        // 403, not 400/404: the caller's request was well-formed and
        // the resource may exist; they may not see it
        case e: SecurityException        => (403, "text/plain", s"forbidden: ${e.getMessage}")
        case e: IllegalArgumentException => (400, "text/plain", s"bad request: ${e.getMessage}")
        case e: graft.query.QueryParser.ParseException =>
          (400, "text/plain", s"bad request: ${e.getMessage}")
        // anything else is a SERVER fault (engine/Spark failure) — a 4xx
        // here would misdirect monitoring and suppress client retries
        case e: Exception =>
          (500, "text/plain", s"internal error: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes)
    finally os.close()
  }
}

object HttpShim {

  /** A shim whose ENGINE routes serve a live store's LATEST committed
    * version — the reference's deployment shape (its web service
    * queries a live Accumulo table; tablet servers always serve the
    * newest flushed state), closing the gap where a fixed QueryService
    * would freeze the HTTP edge at construction-time state while
    * ingest continues.
    *
    * Per request: ONE directory listing resolves the store's latest
    * committed version from disk (`LiveEngineMaintainer.serveSnapshot`
    * — an out-of-process writer's commits are visible, not just the
    * in-JVM pointer), then the memoized `QueryService.versioned`
    * resolver serves it — one QueryService per (version, read-set),
    * evicted on commit/compaction, so steady-state cost between
    * commits is the listing plus a map hit. The same resolver backs
    * `asOf=` on /query and /count, so live-latest and time travel
    * serve from ONE cache and cannot drift.
    */
  def live(m: graft.streaming.LiveEngineMaintainer,
      port: Int = 0, poolSize: Int = 8,
      tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFunctions.tokenizeWs(_),
      embeddings: Option[org.apache.spark.sql.DataFrame] = None,
      analytics: AnalyticsService = new AnalyticsService()): HttpShim = {
    val resolver = QueryService.versioned(m, tokenizer, embeddings)
    def latest(): QueryService = {
      val snap = m.serveSnapshot().getOrElse(
        throw new NoSuchElementException("empty engine store"))
      resolver(snap.latest).getOrElse(
        // resolved-then-swept race: by the resolver's own re-listing
        // the version is gone — a missing resource, the 404 discipline
        throw new NoSuchElementException(
          s"snapshot at version ${snap.latest} was compacted away during the request"))
    }
    new HttpShim(
      latest(), // constructor-time resolution doubles as an eager store check
      port, poolSize,
      serviceAt = resolver,
      analytics = analytics,
      liveResolver = Some(() => latest()))
  }
}
