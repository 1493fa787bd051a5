package graft.api

import graft.SparkSuite
import graft.ingest.{IndexBuilder, XmlIngest}
import graft.query.WikiSearchEngine

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** E2E over the HTTP edge: the four media types of the reference's REST
  * endpoints (`IQuery.java:279-315`), the content route, and the error
  * mapping — served by the real engine over the wiki fixture.
  */
class HttpShimSpec extends SparkSuite {

  private lazy val ix = {
    val fixture  = getClass.getResource("/enwiki-test.xml").getPath
    val articles = XmlIngest.readArticles(spark, fixture)
    IndexBuilder.fromArticles(spark, articles, numPartitions = 1).cacheAll()
  }

  private lazy val shim: HttpShim =
    new HttpShim(new QueryService(new WikiSearchEngine(spark, ix))).start()

  override def afterAll(): Unit = {
    try shim.stop()
    finally super.afterAll()
  }

  private def get(path: String, accept: Option[String] = None): (Int, String, String) =
    getFull(path, accept) match { case (s, ct, b, _) => (s, ct, b) }

  private def getFull(path: String, accept: Option[String] = None)
      : (Int, String, String, Map[String, String]) = {
    val conn = URI.create(s"http://127.0.0.1:${shim.boundPort}$path")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    accept.foreach(conn.setRequestProperty("Accept", _))
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val body   = new String(stream.readAllBytes(), UTF_8)
    val hdrs = Seq("X-Query-Millis", "X-Result-Count")
      .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
    (status, Option(conn.getHeaderField("Content-Type")).getOrElse(""), body, hdrs)
  }

  private val q = "query=" + java.net.URLEncoder.encode("TEXT == 'abacus'", UTF_8)

  test("xml is the default media type (unrecognized Accept) and carries the doc") {
    // java.net.HttpURLConnection sends Accept: text/html by default —
    // override with a wildcard so the shim's XML default is what's tested
    val (status, ct, body) = get(s"/query?$q&auths=enwiki", accept = Some("*/*"))
    assert(status == 200 && ct.startsWith("application/xml"))
    assert(body.startsWith("<results>") && body.contains("""<document id="655""""))
  }

  test("xml via Accept header") {
    val (status, ct, body) = get(s"/query?$q", accept = Some("application/xml"))
    assert(status == 200 && ct.startsWith("application/xml"))
    assert(body.contains("""<field name="TITLE">Abacus</field>"""))
  }

  test("json via format param") {
    val (status, ct, body) = get(s"/query?$q&format=json")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.contains(""""id":"655"""") && body.contains(""""pointer":"DOCUMENT:0/enwiki/655""""))
  }

  test("yaml via Accept header") {
    val (status, ct, body) = get(s"/query?$q", accept = Some("text/x-yaml"))
    assert(status == 200 && ct.startsWith("text/x-yaml"))
    assert(body.startsWith("documents:") && body.contains("- id: '655'"))
  }

  test("html via Accept header") {
    val (status, ct, body) = get(s"/query?$q", accept = Some("text/html"))
    assert(status == 200 && ct.startsWith("text/html"))
    assert(body.startsWith("<table>") && body.contains("<td>655</td>"))
  }

  test("an unsupported format is a 400 before the query runs") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new QueryService(new WikiSearchEngine(spark, ix)) {
      override def query(q: String, auths: Seq[String], limit: Int): Results = {
        calls.incrementAndGet()
        super.query(q, auths, limit)
      }
    }
    val shimC = new HttpShim(counting).start()
    def status(path: String): Int =
      URI.create(s"http://127.0.0.1:${shimC.boundPort}$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection].getResponseCode
    try {
      assert(status(s"/query?$q&format=bogus") == 400)
      assert(calls.get == 0, "the query ran before the format was rejected")
      assert(status(s"/query?$q&format=json") == 200 && calls.get == 1)
    } finally shimC.stop()
  }

  test("content route round-trips a document pointer") {
    val (status, ct, body) = get("/content?id=" +
      java.net.URLEncoder.encode("DOCUMENT:0/enwiki/655", UTF_8))
    assert(status == 200 && ct.startsWith("text/plain"))
    assert(body.contains("calculating tool"))
  }

  test("error mapping: bad syntax 400, missing param 400, unknown doc 404") {
    val (badSyntax, _, msg) = get("/query?query=" +
      java.net.URLEncoder.encode("TEXT ==", UTF_8))
    assert(badSyntax == 400 && msg.startsWith("bad request"))
    assert(get("/query")._1 == 400)
    assert(get("/content?id=" +
      java.net.URLEncoder.encode("DOCUMENT:0/enwiki/99999", UTF_8))._1 == 404)
  }

  test("per-query serving metrics travel as response headers") {
    val (status, _, _, hdrs) = getFull(s"/query?$q&format=json")
    assert(status == 200)
    assert(hdrs.get("X-Result-Count").contains("1"))
    assert(hdrs.get("X-Query-Millis").exists(_.toLong >= 0))
  }

  test("/explain returns the access-path report without executing") {
    val (status, ct, body) = get(s"/explain?$q")
    assert(status == 200 && ct.startsWith("text/plain"))
    assert(body.contains("INDEX PATH") && body.contains("EQ TEXT"))
    val neg = "query=" + java.net.URLEncoder.encode("TEXT != 'abacus'", UTF_8)
    assert(get(s"/explain?$neg")._3.startsWith("REJECTED")) // diagnostic body, not a 4xx
    assert(get("/explain")._1 == 400) // missing query param
  }

  test("/query and /explain compose f:fuzzy, f:near and f:phrase through the HTTP edge") {
    // 'abacas' is a substitution typo of the fixture's 'abacus' (Lev 1):
    // the query-language leaf must expand and hit doc 655 end-to-end
    val fq = "query=" + java.net.URLEncoder.encode("f:fuzzy(TEXT, 'abacas')", UTF_8)
    val (status, _, body) = get(s"/query?$fq&auths=enwiki", accept = Some("*/*"))
    assert(status == 200 && body.contains("""<document id="655""""), body.take(200))
    assert(get(s"/explain?$fq")._3.contains("EQ TEXT IN {"))
    // 'abacus' and 'an' are adjacent in the fixture: the proximity leaf
    // serves through the same routes
    val nq = "query=" + java.net.URLEncoder.encode("f:near(TEXT, 'abacus', 'an', 5)", UTF_8)
    val (ns, _, nbody) = get(s"/query?$nq&auths=enwiki", accept = Some("*/*"))
    assert(ns == 200 && nbody.contains("""<document id="655""""), nbody.take(200))
    assert(get(s"/explain?$nq")._3.contains("NEAR("))
    // 'An abacus' opens the fixture: the adjacency leaf serves through
    // the same routes, case-normalized by the wiki tokenizer
    val pq = "query=" + java.net.URLEncoder.encode("f:phrase(TEXT, 'an abacus')", UTF_8)
    val (ps, _, pbody) = get(s"/query?$pq&auths=enwiki", accept = Some("*/*"))
    assert(ps == 200 && pbody.contains("""<document id="655""""), pbody.take(200))
    assert(get(s"/explain?$pq")._3.contains("PHRASE(TEXT: an abacus)"))
    // round-8 forms through the same edge: k-first ordered window and
    // distance-2 fuzzy ('abicas' is Lev 2 from 'abacus')
    val oq = "query=" + java.net.URLEncoder.encode("f:onear(TEXT, 5, 'an', 'abacus')", UTF_8)
    val (os, _, obody) = get(s"/query?$oq&auths=enwiki", accept = Some("*/*"))
    assert(os == 200 && obody.contains("""<document id="655""""), obody.take(200))
    assert(get(s"/explain?$oq")._3.contains("ONEAR(TEXT: an abacus, k=5)"))
    val f2 = "query=" + java.net.URLEncoder.encode("f:fuzzy(TEXT, 'abicas', 2)", UTF_8)
    val (fs2, _, fbody2) = get(s"/query?$f2&auths=enwiki", accept = Some("*/*"))
    assert(fs2 == 200 && fbody2.contains("""<document id="655""""), fbody2.take(200))
  }

  test("limit caps the result set") {
    val all = "query=" + java.net.URLEncoder.encode(
      "TITLE == 'asphalt' or TITLE == 'abacus' or TITLE == 'acid' or TITLE == 'acronym'", UTF_8)
    val (_, _, body) = get(s"/query?$all&format=json&limit=2")
    assert(body.sliding(7).count(_ == "\"id\":\"6") == 2)
  }

  test("/snippets serves term and phrase context windows; rejects bad params") {
    val (status, ct, body) = get("/snippets?terms=abacus&window=2")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.contains("\"term\":\"abacus\"") && body.contains("abacus"))

    // phrase mode: tokens stored lowercased — 'abacus is' occurs in the doc
    val (ps, _, pbody) = get("/snippets?phrase=abacus,is&window=1")
    assert(ps == 200 && pbody.contains("abacus is"))

    assert(get("/snippets")._1 == 400)                      // neither param
    assert(get("/snippets?terms=a&phrase=b,c")._1 == 400)   // both params
    // out-of-bounds ints are client faults (400), not execution 500s:
    // 2*window+1 would overflow negative at window ~ Int.MaxValue/2
    assert(get("/snippets?terms=a&window=1073741824")._1 == 400)
    assert(get("/snippets?terms=a&window=-1")._1 == 400)
    assert(get("/query?query=TEXT%20%3D%3D%20%27abacus%27&limit=-1")._1 == 400)
    assert(get("/rank?terms=abacus&limit=0")._1 == 400)
  }

  test("/fuzzy suggests did-you-mean terms within edit distance 1") {
    val (st, ct, body) = get("/fuzzy?term=abacuz") // substitution typo
    assert(st == 200 && ct.startsWith("application/json"))
    assert(body.contains("\"term\":\"abacus\""))
    assert(get("/fuzzy")._1 == 400)           // missing term
    assert(get("/fuzzy?term=%20")._1 == 400)  // blank term
  }

  test("/rank returns BM25-ranked JSON and rejects empty terms") {
    val (status, ct, body) = get("/rank?terms=abacus&limit=5")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.startsWith("""[{"rank":1,"""))
    assert(body.contains("\"score\":"))
    assert(get("/rank")._1 == 400)            // missing terms
    assert(get("/rank?terms=,")._1 == 400)    // empty after trim
  }

  test("/count serves count-only queries and reports the index-only fast path") {
    val (status, ct, body) = get(s"/count?$q&auths=enwiki")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body == """{"count":1,"fast":true}""", body)
    // a scan shape (opaque regex) must still count — via the fallback
    val scanQ = "query=" + java.net.URLEncoder.encode("TEXT =~ '.*bacu.*'", UTF_8)
    val (_, _, scanBody) = get(s"/count?$scanQ&auths=enwiki")
    assert(scanBody == """{"count":1,"fast":false}""", scanBody)
    // auths gate the count like every other route
    assert(get(s"/count?$q&auths=frwiki")._3 == """{"count":0,"fast":true}""")
    assert(get("/count")._1 == 400) // missing query
  }

  test("/rank pages by keyset cursor; after params must come together") {
    // page 1 of 2, then the page after its last row: disjoint and ordered
    val p1 = get("/rank?terms=abacus,is&limit=2&auths=enwiki")._3
    val idRe = """"id":"(\d+)"""".r
    val scoreRe = """"score":(-?[0-9.]+)""".r
    val ids1 = idRe.findAllMatchIn(p1).map(_.group(1)).toSeq
    val lastScore = scoreRe.findAllMatchIn(p1).map(_.group(1)).toSeq.last
    val p2 = get(s"/rank?terms=abacus,is&limit=5&auths=enwiki" +
      s"&after_score=$lastScore&after_id=${ids1.last}")._3
    val ids2 = idRe.findAllMatchIn(p2).map(_.group(1)).toSeq
    assert(ids1.size == 2 && ids2.nonEmpty, s"p1=$p1 p2=$p2")
    assert(ids1.toSet.intersect(ids2.toSet).isEmpty, s"pages overlap: $ids1 / $ids2")
    // one-sided cursor is a client error
    assert(get("/rank?terms=abacus&after_score=1.0")._1 == 400)
    assert(get("/rank?terms=abacus&after_id=655")._1 == 400)
    assert(get("/rank?terms=abacus&after_score=xyz&after_id=655")._1 == 400)
  }

  test("/histogram buckets the hit set's numeric field values") {
    // the fixture's 4 articles all carry one ID value in [655, 658] →
    // one bucket of width 10 starting at 650 holds all four
    val idsQ = "query=" + java.net.URLEncoder.encode(
      "TITLE == 'asphalt' or TITLE == 'abacus' or TITLE == 'acid' or TITLE == 'acronym'", UTF_8)
    val (status, ct, body) = get(s"/histogram?$idsQ&field=ID&lo=650&width=10&buckets=5")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body == """[{"bucket":0,"lo":650,"hi":660,"n":4}]""", body)
    // out-of-range values are excluded, not clamped
    val (_, _, none) = get(s"/histogram?$idsQ&field=ID&lo=0&width=10&buckets=5")
    assert(none == "[]")
    assert(get(s"/histogram?$idsQ")._1 == 400)                 // missing field
    assert(get(s"/histogram?$idsQ&field=ID&width=0")._1 == 400) // bad width
    assert(get(s"/histogram?$idsQ&field=ID&lo=abc")._1 == 400)  // bad lo
  }

  test("/mlt ranks related documents, excludes the source, and is auths-gated") {
    val (status, ct, body) = get("/mlt?doc=655&limit=3&auths=enwiki")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.startsWith("""[{"rank":1,"""))
    assert(body.contains("\"score\":"))
    assert(!body.contains("\"id\":\"655\"")) // source excluded
    assert(get("/mlt?doc=655&auths=frwiki")._3 == "[]") // visibility
    assert(get("/mlt")._1 == 400)           // missing doc
    assert(get("/mlt?doc=%20")._1 == 400)   // blank doc
  }

  test("/facets counts the hit set per field value") {
    val (status, ct, body) = get(s"/facets?$q&field=TITLE")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.contains(""""language":"enwiki"""") && body.contains(""""n":1"""))
    assert(get(s"/facets?$q")._1 == 400) // missing field param
  }

  test("/collapse returns one representative per field value with group size") {
    val (status, ct, body) = get(s"/collapse?$q&field=TITLE")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.startsWith("""[{"value":"""))
    assert(body.contains(""""n":""") && body.contains(""""top_doc":"""))
    assert(get(s"/collapse?$q")._1 == 400) // missing field param
  }

  test("/stats reports per-language index catalog statistics, auth-gated") {
    val (status, ct, body) = get("/stats")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.contains(""""language":"enwiki"""") && body.contains(""""n_docs":"""))
    assert(body.contains(""""n_terms":""") && body.contains(""""n_tokens":"""))
    assert(get("/stats?auths=frwiki")._3 == "[]") // fixture is all enwiki
  }

  test("/complete suggests prefix-matching terms ranked by df, auth-gated") {
    val (status, ct, body) = get("/complete?prefix=ab&limit=5")
    assert(status == 200 && ct.startsWith("application/json"))
    assert(body.contains(""""term":"abacus"""") && body.contains(""""df":"""))
    assert(get("/complete?prefix=ab&auths=frwiki")._3 == "[]") // visibility
    assert(get("/complete")._1 == 400)            // missing prefix
    assert(get("/complete?prefix=%20")._1 == 400) // blank prefix
  }

  test("auths gate /rank, /fuzzy and /snippets like /query (no content-route bypass)") {
    // the fixture is all enwiki: an frwiki-only client must see nothing
    // through ANY content-returning route, and an enwiki client sees it all
    assert(get("/rank?terms=abacus&auths=frwiki")._3 == "[]")
    assert(get("/fuzzy?term=abacuz&auths=frwiki")._3 == "[]")
    assert(get("/snippets?terms=abacus&auths=frwiki")._3 == "[]")
    assert(get("/snippets?phrase=abacus,is&auths=frwiki")._3 == "[]")
    assert(get("/rank?terms=abacus&auths=enwiki")._3.contains("\"rank\":1"))
    assert(get("/snippets?terms=abacus&auths=enwiki")._3.contains("abacus"))
  }

  test("/hybrid fuses BM25 with cosine ANN, gates both sides by auths; unconfigured server 400s; /query serves asOf time travel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a live store (two batches) + an aligned embeddings table: doc 1/2
    // arrive at v0, doc 3/4 at v1; doc 4 is the only 'de' document
    val dir = java.nio.file.Files.createTempDirectory("graft-shim-live").toString
    val m = new graft.streaming.LiveEngineMaintainer(spark, dir, numPartitions = 2)
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(df(Seq(
      (1L, "alpha beta gamma", "en", "s1", 16),
      (2L, "alpha beta", "en", "s1", 10))), 0L)
    m.processBatch(df(Seq(
      (3L, "alpha delta", "en", "s2", 11),
      (4L, "beta gamma delta", "de", "s2", 16))), 1L)
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    val engine = new WikiSearchEngine(spark, m.latestIndex.get)
    val svc = new QueryService(engine,
      tokenizer = graft.functions.TextFunctions.tokenizeWs,
      embeddings = Some(emb))
    val shim2 = new HttpShim(svc, serviceAt = QueryService.versioned(m)).start()
    def get2(path: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:${shim2.boundPort}$path")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      (status, new String(stream.readAllBytes(), UTF_8))
    }
    try {
      // fused ranking: doc 2 and 4 are cosine-closest to vec 1, docs
      // with 'alpha' lead the BM25 side — every id but the query's can
      // appear; shape + membership checks
      val (hs, hb) = get2("/hybrid?terms=alpha,beta&vec=1&limit=3")
      assert(hs == 200 && hb.startsWith("""[{"rank":1,"""), hb)
      assert("\"id\":(\\d+)".r.findAllMatchIn(hb).map(_.group(1).toLong).toSet
        .subsetOf(Set(2L, 3L, 4L)), hb)
      // auths gate BOTH sides: restricted to 'de', only doc 4 can rank
      // (vec 4 is cosine-top for vec 1, so it WOULD leak via the
      // semantic side if only BM25 were gated... and ids 1-3 must not
      // appear at all)
      val (_, hd) = get2("/hybrid?terms=alpha,beta&vec=1&auths=de")
      val deIds = "\"id\":(\\d+)".r.findAllMatchIn(hd).map(_.group(1).toLong).toSet
      assert(deIds == Set(4L), s"auths must gate the semantic side too: $hd")
      // unknown query vector → 404; depth < limit → 400
      assert(get2("/hybrid?terms=alpha&vec=99")._1 == 404)
      assert(get2("/hybrid?terms=alpha&vec=1&limit=60&depth=10")._1 == 400)
      // the wiki-fixture shim has no embeddings table → clean 400
      assert(get(s"/hybrid?terms=abacus&vec=1")._1 == 400)

      // time travel: at v0 only docs 1-2 exist — doc 3's 'delta' hit is
      // invisible; latest serves it; unknown version → 404; the shim
      // without a resolver 404s any asOf
      val aq = "query=" + java.net.URLEncoder.encode("TEXT == 'delta'", UTF_8)
      val (s0, b0) = get2(s"/query?$aq&format=json&asOf=0")
      assert(s0 == 200 && !b0.contains("\"id\""), s"v0 must not see delta: $b0")
      val (s1, b1) = get2(s"/query?$aq&format=json")
      assert(s1 == 200 && b1.contains("\"id\":\"3\""), b1)
      val (sv, bv) = get2(s"/query?$aq&format=json&asOf=1")
      assert(sv == 200 && bv.contains("\"id\":\"3\""), bv)
      assert(get2(s"/query?$aq&asOf=99")._1 == 404)
      assert(get2(s"/query?$aq&asOf=x")._1 == 400)
      assert(get(s"/query?$q&asOf=0")._1 == 404) // no resolver configured
      // /count time-travels through the same resolver
      val (cs, cb) = get2("/count?" + java.net.URLEncoder.encode("query", UTF_8) +
        "=" + java.net.URLEncoder.encode("TEXT == 'alpha'", UTF_8) + "&asOf=0")
      assert(cs == 200 && cb.contains("\"count\":2"), cb)
      // snapshot-only param on a live-only route → explicit 400, on the
      // resolver-equipped shim AND the resolver-less one (the silent-
      // ignore would record latest data as a snapshot)
      assert(get2("/rank?terms=alpha&asOf=0")._1 == 400)
      assert(get2("/hybrid?terms=alpha&vec=1&asOf=0")._1 == 400)
      assert(get("/rank?terms=abacus&asOf=0")._1 == 400)

      // a compaction that sweeps the deltas must EVICT the memoized
      // snapshots (they were resolved from the now-deleted v-dirs):
      // asOf=0 re-resolves to the documented 404 (no base covers it),
      // asOf=1 re-resolves against the new base and still serves —
      // neither may 500 off stale cached paths
      graft.streaming.Compaction.compactEngine(spark, dir)
      assert(get2(s"/query?$aq&asOf=0")._1 == 404)
      val (sc, bc) = get2(s"/query?$aq&format=json&asOf=1")
      assert(sc == 200 && bc.contains("\"id\":\"3\""), s"post-sweep asOf=1: $sc $bc")
    } finally shim2.stop()
  }

  test("analytics serving: /sketch/cms, /sketch/quantiles, /model/dsir round-trip a 2-batch store with asOf, auth, and 404/403/400 edges") {
    import spark.implicits._
    import graft.functions.Sketches
    import org.apache.spark.sql.functions.{col, pmod, lit, udaf}
    val base = java.nio.file.Files.createTempDirectory("graft-analytics").toString
    val (d, w) = (4, 64)

    // CMS store: two batches over a skewed key stream
    val keys = ((1L to 300L).map(_ % 37) ++ Seq.fill(60)(7L)).toDF("user_id")
    val cm = new graft.streaming.LiveSketchMaintainer(spark, s"$base/cms", d, w)
    (0 until 2).foreach(b =>
      cm.processBatch(keys.filter(pmod(col("user_id"), lit(2)) === b), b.toLong))
    val cmsU = udaf(new Sketches.CmsAggregator(d, w))
    val batchSk = keys.agg(cmsU(col("user_id")).as("sk"))
      .head.getSeq[Long](0).toSeq

    // quantile store: two batches, two groups
    val vals = (1L to 200L).map(i => (if (i % 2 == 0) "even" else "odd", i, i.toDouble))
      .toDF("g", "key", "v")
    val qm = new graft.streaming.LiveQuantileMaintainer(spark, s"$base/qs", k = 256)
    qm.processBatch(vals.filter(col("key") <= 100), 0L)
    qm.processBatch(vals.filter(col("key") > 100), 1L)

    // DSIR model store: two batches, target = lang 'en'
    val docs = (1L to 40L).map(i =>
      (i, s"tok${i % 5} tok${i % 3}", if (i % 4 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    val mm = new graft.streaming.LiveDsirModelMaintainer(spark, s"$base/dsir")
    mm.processBatch(docs.filter(col("doc_id") <= 20), col("lang") === "en", 0L)
    mm.processBatch(docs.filter(col("doc_id") > 20), col("lang") === "en", 1L)

    val svc = new AnalyticsService(Some(cm), Some(qm), Some(mm),
      requiredAuth = Some("analytics"))
    val shim3 = new HttpShim(
      new QueryService(new graft.query.WikiSearchEngine(spark,
        graft.ingest.IndexBuilder.fromDocumentsTable(spark, docs
          .withColumn("source", lit("s")).withColumn("n_chars", lit(10L)),
          numPartitions = 1))),
      analytics = svc).start()
    def get3(path: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:${shim3.boundPort}$path")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      (status, new String(stream.readAllBytes(), UTF_8))
    }
    try {
      // CMS: latest estimate equals the batch-sketch estimate (the
      // live=batch merge identity, served over the wire)
      val (cs, cb) = get3("/sketch/cms?key=7&auths=analytics")
      assert(cs == 200 &&
        cb == s"""{"version":1,"key":7,"estimate":${Sketches.cmsEstimate(batchSk, 7L, d, w)}}""", cb)
      // asOf=0 serves the first batch's state only — key 7 is odd, so
      // it landed in batch 1 and v0's estimate is strictly below the
      // merged one (≈0 up to CMS collision noise); asOf=9 was never
      // committed → 404
      val est0 = "\"estimate\":(\\d+)".r.findFirstMatchIn(
        get3("/sketch/cms?key=7&auths=analytics&asOf=0")._2).get.group(1).toLong
      assert(est0 >= 0 && est0 < Sketches.cmsEstimate(batchSk, 7L, d, w))
      assert(get3("/sketch/cms?key=7&auths=analytics&asOf=9")._1 == 404)
      // store-level auth: absent or wrong label → 403, before anything
      // about the store is revealed
      assert(get3("/sketch/cms?key=7")._1 == 403)
      assert(get3("/sketch/cms?key=7&auths=enwiki")._1 == 403)
      assert(get3("/sketch/cms?auths=analytics")._1 == 400)    // missing key
      assert(get3("/sketch/cms?key=x&auths=analytics")._1 == 400)
      assert(get3("/sketch/cms?key=7&auths=analytics&asOf=x")._1 == 400)

      // quantiles: single group object; p50 of 1..200 odd = 99 or 101
      // by the rank rule — check exact against the maintainer itself
      val exp = qm.quantilesAt()("odd")
      val (qs, qb) = get3("/sketch/quantiles?group=odd&auths=analytics")
      assert(qs == 200 &&
        qb == s"""{"group":"odd","version":1,"n_sample":${exp.n_sample},"p50":${exp.p50},"p90":${exp.p90},"p99":${exp.p99}}""", qb)
      // all groups = sorted array; unknown group → 404
      val (qa, qab) = get3("/sketch/quantiles?auths=analytics")
      assert(qa == 200 && qab.startsWith("""[{"group":"even"""") &&
        qab.contains(""""group":"odd""""), qab)
      assert(get3("/sketch/quantiles?group=nope&auths=analytics")._1 == 404)
      // asOf=0: only keys 1..100 seen — p90 must be below the final p90
      val p90v0 = "\"p90\":([0-9.]+)".r.findFirstMatchIn(
        get3("/sketch/quantiles?group=odd&auths=analytics&asOf=0")._2).get.group(1).toDouble
      assert(p90v0 < exp.p90, s"v0 p90 $p90v0 vs latest ${exp.p90}")

      // DSIR: served lr equals the merged model's row; OOV token → 404
      // (the lookup face of the documented drop contract)
      val lr = mm.modelAt().get.filter(col("token") === "tok1")
        .head.getAs[Long]("lr")
      val (ds, db) = get3("/model/dsir?token=tok1&auths=analytics")
      assert(ds == 200 && db == s"""{"version":1,"token":"tok1","lr":$lr}""", db)
      assert(get3("/model/dsir?token=zzz&auths=analytics")._1 == 404)
      assert(get3("/model/dsir?auths=analytics")._1 == 400)

      // compaction: asOf=0 is swept (404 — a version is a resource),
      // latest still serves the identical answer through the c-base
      cm.compact()
      assert(get3("/sketch/cms?key=7&auths=analytics&asOf=0")._1 == 404)
      assert(get3("/sketch/cms?key=7&auths=analytics")._2 == cb)

      // the main shim carries no analytics stores → clean 400
      assert(get("/sketch/cms?key=7&auths=analytics")._1 == 400)
      assert(get("/model/dsir?token=a&auths=analytics")._1 == 400)
    } finally shim3.stop()
  }

  test("/ann serves live IVF top-k around stored ids and raw vectors, delete-aware, with asOf time travel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-shim").toString
    // two clusters on the unit circle: ids 1-4 near (1,0), ids 11-14
    // near (0,1); a second batch adds 5 near (1,0). Id 0 exists to pin
    // that raw-vector queries exclude NO stored id (a sentinel-id
    // collision would silently drop it from results)
    def vec(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val b0 = Seq(
      (0L, vec(0.71, 0.70)),
      (1L, vec(1.0, 0.0)), (2L, vec(0.99, 0.14)), (3L, vec(0.97, 0.24)),
      (4L, vec(0.95, 0.31)), (11L, vec(0.0, 1.0)), (12L, vec(0.14, 0.99)),
      (13L, vec(0.24, 0.97)), (14L, vec(0.31, 0.95))).toDF("vec_id", "embedding")
    val am = new graft.streaming.LiveAnnMaintainer(spark, dir, cells = 2, iters = 4)
    am.processBatch(b0, 0L)
    am.processBatch(Seq((5L, vec(0.999, 0.045))).toDF("vec_id", "embedding"), 1L)
    val svc = new AnalyticsService(ann = Some(am))
    val shim4 = new HttpShim(
      new QueryService(new graft.query.WikiSearchEngine(spark,
        graft.ingest.IndexBuilder.fromDocumentsTable(spark,
          Seq((1L, "alpha", "en", "s", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars"),
          numPartitions = 1))),
      analytics = svc).start()
    def get4(path: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:${shim4.boundPort}$path")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      (status, new String(stream.readAllBytes(), UTF_8))
    }
    def ids(body: String): Seq[Long] =
      "\"id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    try {
      // neighbors of stored id 1: its own cluster, self excluded, the
      // cross-batch vector 5 ranked first (closest), ranks ascending
      val (s1, b1) = get4("/ann?id=1&k=3&nprobe=2")
      assert(s1 == 200 && b1.startsWith("""[{"rank":1,"""), b1)
      assert(ids(b1) == Seq(5L, 2L, 3L), s"expected cluster order: $b1")
      // raw query vector near the (0,1) cluster
      val (s2, b2) = get4("/ann?q=0.1,0.99&k=2&nprobe=2")
      assert(s2 == 200 && ids(b2).forall(Set(11L, 12L, 13L, 14L)), b2)
      // a raw query exactly at stored vector 0's direction must return
      // id 0 first — no placeholder-id exclusion
      val (s0, b0r) = get4("/ann?q=0.71,0.70&k=1&nprobe=2")
      assert(s0 == 200 && ids(b0r) == Seq(0L), s"id 0 must rank: $b0r")
      // a deleted vector disappears from results AND stops being a
      // valid query id (tombstone-masked store)
      am.processDeletes(Seq(Tuple1(5L)).toDF("vec_id"), 2L)
      val (_, b3) = get4("/ann?id=1&k=3&nprobe=2")
      assert(ids(b3) == Seq(2L, 3L, 4L), s"tombstoned 5 must vanish: $b3")
      assert(get4("/ann?id=5&k=3")._1 == 404)
      // asOf time travel: at version 1 the tombstone (committed at v2)
      // does not reach back — 5 still ranks, and still QUERIES
      val (sAo, bAo) = get4("/ann?id=1&k=3&nprobe=2&asOf=1")
      assert(sAo == 200 && ids(bAo) == Seq(5L, 2L, 3L),
        s"v1 snapshot must pre-date the delete: $bAo")
      assert(get4("/ann?id=5&k=1&nprobe=2&asOf=1")._1 == 200)
      // at version 0 the vector 5 (committed at v1) does not exist yet
      val (s00, b00) = get4("/ann?id=1&k=3&nprobe=2&asOf=0")
      assert(s00 == 200 && ids(b00) == Seq(2L, 3L, 4L), b00)
      assert(get4("/ann?id=5&k=1&asOf=0")._1 == 404)
      // unknown/uncommitted version → 404; bad asOf → 400
      assert(get4("/ann?id=1&k=3&asOf=9")._1 == 404)
      assert(get4("/ann?id=1&k=3&asOf=x")._1 == 400)
      // error edges: unknown id 404; both/neither/bad params 400;
      // unconfigured store 400
      assert(get4("/ann?id=99&k=3")._1 == 404)
      assert(get4("/ann?id=1&q=0.1,0.2")._1 == 400)
      assert(get4("/ann?k=3")._1 == 400)
      assert(get4("/ann?q=0.1,zz")._1 == 400)
      assert(get4("/ann?id=1&k=0")._1 == 400)
      assert(get("/ann?id=1&k=3")._1 == 400)
      // compaction folds v0-v2 into a c2 base and sweeps the deltas:
      // v0/v1 are gone as RESOURCES (404 — never a silent answer from
      // the base), v2 itself and latest still serve the masked state
      assert(graft.streaming.Compaction.compactAnn(spark, dir) == 2L)
      assert(get4("/ann?id=1&k=3&nprobe=2&asOf=1")._1 == 404)
      assert(get4("/ann?id=1&k=3&nprobe=2&asOf=0")._1 == 404)
      val (sC, bC) = get4("/ann?id=1&k=3&nprobe=2&asOf=2")
      assert(sC == 200 && ids(bC) == Seq(2L, 3L, 4L), bC)
      assert(ids(get4("/ann?id=1&k=3&nprobe=2")._2) == Seq(2L, 3L, 4L))
    } finally shim4.stop()
  }

  test("serving resolution tracks a concurrent writer: a stale reader's service serves new commits and 404s swept versions") {
    import spark.implicits._
    // the serve path must resolve against DISK, not the reader's
    // in-memory recovery pointer: a service handed a reader maintainer
    // constructed BEFORE later commits (the documented restart-recovery
    // pattern) would otherwise serve old state labeled with a new
    // version — or a zero sketch after a sweep
    val dir = java.nio.file.Files.createTempDirectory("graft-stale-reader").toString
    val writer = new graft.streaming.LiveSketchMaintainer(spark, dir, 4, 64)
    writer.processBatch(Seq(1L, 1L, 1L).toDF("user_id"), 0L)
    val reader = new graft.streaming.LiveSketchMaintainer(spark, dir, 4, 64)
    val svc = new AnalyticsService(cms = Some(reader))
    def est(json: String) =
      "\"estimate\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
    def ver(json: String) =
      "\"version\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
    val first = svc.cmsEstimate(1L)
    assert(est(first) == 3L && ver(first) == 0L)
    // the WRITER commits v1 — the reader's pointer still says 0
    writer.processBatch(Seq(1L, 1L).toDF("user_id"), 1L)
    val after = svc.cmsEstimate(1L)
    assert(ver(after) == 1L && est(after) == 5L,
      s"stale reader must serve the new commit: $after")
    // the historical snapshot still answers exactly v0's state
    assert(est(svc.cmsEstimate(1L, asOf = Some(0L))) == 3L)
    // writer compacts + sweeps: v0 is gone as a resource THROUGH the
    // stale reader too; latest still serves the full merge
    writer.compact()
    intercept[NoSuchElementException](svc.cmsEstimate(1L, asOf = Some(0L)))
    assert(est(svc.cmsEstimate(1L)) == 5L)
  }

  test("analytics memoization is concurrency-safe: parallel mixed requests agree with sequential answers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = java.nio.file.Files.createTempDirectory("graft-an-conc").toString
    val keys = (1L to 300L).map(_ % 23).toDF("user_id")
    val cm = new graft.streaming.LiveSketchMaintainer(spark, s"$base/cms", 4, 64)
    (0 until 2).foreach(b =>
      cm.processBatch(keys.filter(pmod(col("user_id"), lit(2)) === b), b.toLong))
    val qm = new graft.streaming.LiveQuantileMaintainer(spark, s"$base/qs", k = 64)
    qm.processBatch((1L to 100L).map(i => ("g", i, i.toDouble)).toDF("g", "key", "v"), 0L)
    val svc = new AnalyticsService(Some(cm), Some(qm))
    // sequential ground truth (also primes nothing: a FRESH service is
    // hammered below so the first merges happen under contention)
    val want = (0L to 22L).map(k => k -> svc.cmsEstimate(k)).toMap
    val wantQ = svc.groupQuantiles(Some("g"))
    val fresh = new AnalyticsService(Some(cm), Some(qm))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (0 until 80).map { i =>
        scala.concurrent.Future {
          if (i % 3 == 0) fresh.groupQuantiles(Some("g")) == wantQ
          else {
            val k = (i % 23).toLong
            // mix latest and explicit-version requests of the same state
            val asOf = if (i % 2 == 0) None else Some(1L)
            fresh.cmsEstimate(k, asOf) == want(k)
          }
        }
      }
      val results = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(120, "s"))
      assert(results.forall(identity),
        "a concurrent request diverged from the sequential answer")
    } finally { pool.shutdown(); () }
  }

  test("HttpShim.live: the engine routes track a concurrent writer — new commits serve immediately, deletes mask, asOf still time-travels, swept versions 404") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-live-shim").toString
    def docs(rows: (Long, String)*) = rows.toSeq
      .map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val writer = new graft.streaming.LiveEngineMaintainer(spark, dir, numPartitions = 1)
    writer.processBatch(docs((1L, "alpha beta"), (2L, "alpha gamma")), 0L)
    // the serving shim holds a FRESH maintainer (separate process in a
    // real deployment) — its pointer knows nothing of later commits
    val reader = new graft.streaming.LiveEngineMaintainer(spark, dir, numPartitions = 1)
    val shim5 = HttpShim.live(reader).start()
    def get5(path: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:${shim5.boundPort}$path")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      (status, new String(stream.readAllBytes(), UTF_8))
    }
    def hitIds(body: String): Set[String] =
      "\"pointer\":\"DOCUMENT:\\d+/en/(\\d+)\"".r
        .findAllMatchIn(body).map(_.group(1)).toSet
    try {
      val (s0, b0) = get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json")
      assert(s0 == 200 && hitIds(b0) == Set("1", "2"), b0)
      // the WRITER commits v1 — an asOf request for the fresh version
      // must serve FIRST TRY (the resolver consults disk on its
      // reject path; the reader's in-JVM pointer still says 0), and
      // the latest route serves it on the next request too
      writer.processBatch(docs((3L, "alpha delta")), 1L)
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json&asOf=1")._2) ==
        Set("1", "2", "3"), "fresh-version asOf must not 404 on a stale pointer")
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json")._2) ==
        Set("1", "2", "3"), "new commit must serve immediately")
      // time travel through the same resolver: asOf=0 pre-dates doc 3
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json&asOf=0")._2) ==
        Set("1", "2"))
      // a tombstone delete masks on latest, not on the snapshot
      writer.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 2L)
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json")._2) ==
        Set("2", "3"), "tombstoned doc must vanish from latest")
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json&asOf=1")._2) ==
        Set("1", "2", "3"), "the delete must not reach back into v1")
      // compaction folds + sweeps: v0/v1 are gone as resources, latest
      // serves the identical masked answer through the c-base
      graft.streaming.Compaction.compactEngine(spark, dir)
      assert(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json&asOf=0")._1 == 404)
      assert(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json&asOf=1")._1 == 404)
      assert(hitIds(get5("/query?query=TEXT+%3D%3D+%27alpha%27&format=json")._2) ==
        Set("2", "3"))
      // non-query engine routes resolve live too: /count sees the
      // post-delete corpus
      assert(get5("/count?query=TEXT+%3D%3D+%27alpha%27")._2.contains("\"count\":2"))
    } finally shim5.stop()
  }

  test("QueryService.versioned is bounded: versions evicted past capacity re-resolve correctly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vb").toString
    val m = new graft.streaming.LiveEngineMaintainer(spark, dir, numPartitions = 1)
    def docs(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(docs((1L, "alpha")), 0L)
    m.processBatch(docs((2L, "alpha beta")), 1L)
    m.processBatch(docs((3L, "alpha gamma")), 2L)
    // capacity 1: every other resolution evicts the previous version's
    // engine — an evicted version must re-resolve to the same answer,
    // never NPE or serve a neighbor's snapshot
    val r = QueryService.versioned(m, maxVersions = 1)
    def hits(svc: QueryService) =
      svc.query("TEXT == 'alpha'", Nil, 10).documents.map(_.id).toSet
    assert(hits(r(2L).get) == Set("1", "2", "3"))
    assert(hits(r(0L).get) == Set("1"))          // evicts v2
    assert(hits(r(2L).get) == Set("1", "2", "3")) // re-resolves
    assert(hits(r(1L).get) == Set("1", "2"))
    assert(r(9L).isEmpty) // uncommitted stays a miss
  }

  test("StoreCache: a request holding a value across MULTIPLE generation turnovers is never retired under it (ref-count, not grace)") {
    import graft.streaming.ServeSnapshot
    def snap(latest: Long): ServeSnapshot =
      ServeSnapshot(latest, (None, (0L to latest)), latest, (None, (0L to latest)))
    val retired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cache = new StoreCache[String](v => { retired.add(v); () })
    val entered  = new java.util.concurrent.CountDownLatch(1)
    val proceed  = new java.util.concurrent.CountDownLatch(1)
    @volatile var got: String = null
    val slow = new Thread(() =>
      got = cache.use(snap(0))("A") { v =>
        entered.countDown(); proceed.await(); v
      })
    slow.start()
    entered.await()
    // two commits land while the slow request is mid-execution — the
    // round-11 one-generation grace would have retired "A" at the second
    cache.use(snap(1))("B")(identity)
    cache.use(snap(2))("C")(identity)
    assert(!retired.contains("A"), "value retired under an in-flight request")
    assert(retired.contains("B"), "idle evicted value must retire at turnover")
    proceed.countDown()
    slow.join(30000)
    assert(got == "A")
    assert(retired.contains("A"), "released parked value must retire")
  }

  test("StoreCache: a stale listing delivered late cannot ping-pong the generation backwards") {
    import graft.streaming.ServeSnapshot
    var computes = 0
    var retires  = 0
    val cache = new StoreCache[String](_ => retires += 1)
    val newGen   = ServeSnapshot(1, (None, Seq(0L, 1L)), 1, (None, Seq(0L, 1L)))
    val staleGen = ServeSnapshot(0, (None, Seq(0L)), 0, (None, Seq(0L)))
    cache.use(newGen) { computes += 1; "v1" }(identity)
    // a request whose directory listing predates the commit arrives
    // LATE: it must serve through the current memo (per-version state
    // is immutable), not regress the generation and burn the eviction
    val r = cache.use(staleGen) { computes += 1; "v0" }(identity)
    assert(r == "v0" && retires == 0, "stale listing must not turn the generation over")
    // and the newer generation's memo survived the interleave
    cache.use(newGen) { computes += 1; "v1-again" }(identity)
    assert(computes == 2, s"memo for the current generation was evicted: $computes computes")
    // compaction at the SAME latest version (base floor rises) IS a new
    // generation — the memo must turn over and retire the idle values
    val compacted = ServeSnapshot(1, (Some(1L), Nil), 1, (Some(1L), Nil))
    cache.use(compacted) { computes += 1; "v1c" }(identity)
    assert(computes == 3 && retires == 2,
      s"compaction must turn the generation: $computes computes, $retires retires")
  }

  test("QueryService emits well-formed JSON for stored strings with control characters") {
    import spark.implicits._
    // tokenizeWs splits on single spaces ONLY, so a token can carry a
    // literal newline/tab — it must leave jstr escaped, never raw
    val docs = Seq((1L, "x a\nb\tc y", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val svc = new QueryService(
      new WikiSearchEngine(spark,
        graft.ingest.IndexBuilder.fromDocumentsTable(spark, docs, numPartitions = 1)),
      tokenizer = graft.functions.TextFunctions.tokenizeWs)
    val out = svc.snippets(Seq("x"), window = 2)
    assert(out.contains("a\\nb\\tc"), s"control chars must be escaped: $out")
    assert(!out.exists(c => c == '\n' || c == '\t'), s"raw control char leaked: $out")
  }
}
