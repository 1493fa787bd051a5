package graft.api

import graft.query.WikiSearchEngine

import org.apache.spark.sql.Row

/** The API result model — the JAXB `Results{document[]{id, field[]}}`
  * shape of the reference (`query/.../sample/Results.java:255-280`,
  * `Document.java:135-169`, `Field.java:194-227`), rendered to XML/JSON
  * without any framework dependency. This is the presentation edge: rows
  * are collected here (bounded by `limit`), never inside the engine.
  */
case class Field(name: String, value: String)

case class Document(id: String, pointer: String, fields: Seq[Field])

case class Results(documents: Seq[Document]) {

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  /** The reference's XML media type (`Query.java:94-138`). */
  def toXml: String = {
    val sb = new StringBuilder("<results>")
    documents.foreach { d =>
      sb.append(s"""<document id="${xmlEscape(d.id)}">""")
      d.fields.foreach(f =>
        sb.append(s"""<field name="${xmlEscape(f.name)}">${xmlEscape(f.value)}</field>"""))
      sb.append("</document>")
    }
    sb.append("</results>").toString
  }

  def toJson: String = {
    import QueryService.jstr
    val docs = documents.map { d =>
      val fs = d.fields
        .map(f => s"""{"name":${jstr(f.name)},"value":${jstr(f.value)}}""")
        .mkString("[", ",", "]")
      s"""{"id":${jstr(d.id)},"pointer":${jstr(d.pointer)},"fields":$fs}"""
    }
    s"""{"documents":${docs.mkString("[", ",", "]")}}"""
  }

  /** YAML media type (reference supports xml/json/yaml/html,
    * `IQuery.java:279-315`). Values single-quoted with quote doubling.
    */
  def toYaml: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val sb = new StringBuilder("documents:\n")
    documents.foreach { d =>
      sb.append(s"- id: ${q(d.id)}\n  pointer: ${q(d.pointer)}\n  fields:\n")
      d.fields.foreach(f => sb.append(s"  - name: ${q(f.name)}\n    value: ${q(f.value)}\n"))
    }
    sb.toString
  }

  /** HTML table — the reference's style.xsl output shape
    * (`query-war/src/main/webapp/style.xsl:20-47`: one row per document,
    * one cell per field).
    */
  def toHtml: String = {
    val fieldNames = documents.flatMap(_.fields.map(_.name)).distinct.sorted
    val head = ("id" +: fieldNames)
      .map(n => s"<th>${xmlEscape(n)}</th>").mkString
    val rows = documents.map { d =>
      val byName = d.fields.groupBy(_.name)
      val cells = fieldNames.map { n =>
        s"<td>${xmlEscape(byName.getOrElse(n, Nil).map(_.value).mkString(", "))}</td>"
      }.mkString
      s"<tr><td>${xmlEscape(d.id)}</td>$cells</tr>"
    }.mkString
    s"<table><tr>$head</tr>$rows</table>"
  }
}

/** Library facade over the engine — the boolean-search and content entry
  * points of the reference's REST layer (`IQuery.java:279-315`,
  * `Query.java:179-248`) minus the servlet container.
  *
  * `tokenizer` is the tokenizer that BUILT the index this service
  * fronts (stored offsets index into its token stream): the default is
  * the wiki-XML path's `TextFunctions.tokenize`; a service over a
  * documents-table engine (postings built with `tokenizeWs`) passes
  * that instead. Held HERE, once, so the snippet windows this service
  * requests can never diverge from the index — per-call tokenizer
  * choice was the exact mismatch the snippet docs warn about. (BM25
  * serving no longer takes a tokenizer at all: dl and corpus stats come
  * from the index's materialized statistics tables.)
  */
class QueryService(engine: WikiSearchEngine,
    tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.functions.TextFunctions.tokenize,
    /** Embedding table (vec_id aligned with the documents' doc_id) for
      * hybrid lexical+semantic retrieval; None leaves `/hybrid`
      * unconfigured (a clean 400, not a crash).
      */
    embeddings: Option[org.apache.spark.sql.DataFrame] = None) {

  /** Boolean-expression search → Results (top `limit` documents). */
  def query(q: String, auths: Seq[String] = Nil, limit: Int = 100): Results = {
    val rows = engine.run(q, auths).limit(limit).collect()
    Results(rows.toSeq.map(toDocument))
  }

  /** `DOCUMENT:partition/lang/id` → decoded content, or None. */
  def content(pointer: String): Option[String] =
    engine.content(pointer).collect().headOption.map(_.getAs[String]("DOCUMENT"))

  /** Access-path report for a query (`WikiSearchEngine.explainAccess`)
    * without executing it — the operational pre-flight check.
    */
  def explain(q: String, auths: Seq[String] = Nil): String =
    engine.explainAccess(q, auths)

  /** BM25 ranked retrieval → top `limit` (rank, docId, score) triples as
    * a JSON array. Serving uses `WikiSearchEngine.rankTopK` — a bounded
    * sort+limit (TakeOrderedAndProject), NOT the full-ranking global
    * window — and assigns rank numbers here, at the presentation edge,
    * from the collected row order.
    */
  def rank(terms: Seq[String], limit: Int = 10, auths: Seq[String] = Nil): String = {
    val rows = engine.rankTopK(terms, limit, auths = auths).collect()
    rows.zipWithIndex.map { case (r, i) =>
      s"""{"rank":${i + 1},"id":${jstr(r.getAs[String]("docId"))},"language":${jstr(r.getAs[String]("language"))},"score":${r.getAs[Double]("score")}}"""
    }.mkString("[", ",", "]")
  }

  /** Hybrid retrieval: BM25 over the term index fused with cosine top-k
    * over the embeddings table by Reciprocal Rank Fusion
    * (`HybridSearch.rrfFuse`) — the `ws_hybrid` serving shape on the
    * HTTP edge. Each side contributes its top-`depth` PAGE (both plan
    * as bounded top-k — TakeOrderedAndProject / per-query window over a
    * broadcast query row), so nothing here scales with the corpus, and
    * the fuse runs over ≤ 2·depth rows. `auths` gates BOTH sides: the
    * lexical ranking through the engine's own visibility rule, the
    * semantic candidates through a semi-join on
    * `WikiSearchEngine.authorizedIds` — an unauthorized document must
    * not surface through the embedding side of a fused ranking.
    */
  def hybrid(terms: Seq[String], queryVecId: Long, limit: Int = 20,
      depth: Int = 50, kRrf: Int = 60, auths: Seq[String] = Nil): String = {
    import org.apache.spark.sql.functions._
    val emb = embeddings.getOrElse(throw new IllegalArgumentException(
      "hybrid retrieval is not configured on this server (no embeddings table)"))
    // ONE job resolves the query row: the collected row both answers
    // the 404 probe and re-enters the plan as a local relation, so the
    // not-found check costs no scan beyond the lookup topK needs anyway
    val qRows = emb.filter(col("vec_id") === queryVecId).collect()
    if (qRows.isEmpty)
      throw new NoSuchElementException(s"query vector not found: $queryVecId")
    val qVec = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows: _*), emb.schema)
    val bm = engine.rankTopK(terms, k = depth,
        tieBreak = col("docId").cast("bigint"), auths = auths)
      .select(col("docId").cast("bigint").as("id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("docId").cast("bigint"))).as("rank"))
    // the auth mask is CORPUS-sized (all authorized doc ids), so no
    // broadcast hint — a plain semi-join lets AQE pick; at scale both
    // sides are id-partitioned parquet
    val candidates =
      if (auths.isEmpty) emb
      else emb.join(engine.authorizedIds(auths)
          .withColumnRenamed("id", "vec_id"), Seq("vec_id"), "leftsemi")
    val cos = graft.pipeline.Similarity.topK(candidates, qVec, k = depth)
      .select(col("neighbor_id").as("id"), col("rank"))
    val rows = graft.search.HybridSearch
      .rrfFuse(Seq(bm, cos), kRrf = kRrf, k = limit).collect()
    rows.map { r =>
      s"""{"rank":${r.getAs[Long]("rank")},"id":${r.getAs[Long]("id")},"score":${r.getAs[Double]("score")}}"""
    }.mkString("[", ",", "]")
  }

  /** Count-only serving (`WikiSearchEngine.countDocs`) as a JSON object
    * `{"count":N,"fast":bool}`. `fast` reports whether the index-only
    * path answered — i.e. the count came from plan-time postings with no
    * event-store access — the operational signal a result-count badge
    * endpoint wants to monitor. One engine call plans the query once;
    * the fallback executes that same plan.
    */
  def count(q: String, auths: Seq[String] = Nil): String = {
    val (n, fast) = engine.planCount(q, auths) match {
      case Left(n)   => (n, true)
      case Right(df) => (df.collect().head.getAs[Long]("cnt"), false)
    }
    s"""{"count":$n,"fast":$fast}"""
  }

  /** Keyset-paged BM25 retrieval (`WikiSearchEngine.rankPage`): the page
    * strictly after the (`afterScore`, `afterId`) cursor — the last row
    * of the previous page, echoed back by the client. `rank` numbers are
    * page-relative (cursor clients paginate by cursor, not rank).
    */
  def rankAfter(terms: Seq[String], afterScore: Double, afterId: String,
      limit: Int = 10, auths: Seq[String] = Nil): String = {
    val rows = engine.rankPage(terms, limit, afterScore, afterId,
      auths = auths).collect()
    rows.zipWithIndex.map { case (r, i) =>
      s"""{"rank":${i + 1},"id":${jstr(r.getAs[String]("docId"))},"language":${jstr(r.getAs[String]("language"))},"score":${r.getAs[Double]("score")}}"""
    }.mkString("[", ",", "]")
  }

  /** Typo-tolerant term suggestions (`WikiSearchEngine.fuzzyTerms`) as
    * a JSON array of {term, df}, document-frequency-descending so the
    * most plausible correction leads (ties alphabetical).
    */
  def fuzzy(term: String, limit: Int = 10, auths: Seq[String] = Nil): String = {
    val rows = engine.fuzzyTerms(term, auths)
      .orderBy(org.apache.spark.sql.functions.col("df").desc,
        org.apache.spark.sql.functions.col("term"))
      .limit(limit).collect()
    rows.map { r =>
      s"""{"term":${jstr(r.getAs[String]("term"))},"df":${r.getAs[Long]("df")}}"""
    }.mkString("[", ",", "]")
  }

  /** More-like-this (`WikiSearchEngine.moreLikeThis`): the top-`limit`
    * documents sharing vocabulary with the source doc, rarity-weighted
    * (integer scores — see the engine scaladoc), best-first.
    */
  def moreLikeThis(docId: String, limit: Int = 10, auths: Seq[String] = Nil): String = {
    val rows = engine.moreLikeThis(docId, limit, auths = auths).collect()
    rows.zipWithIndex.map { case (r, i) =>
      s"""{"rank":${i + 1},"id":${jstr(r.getAs[String]("docId"))},"language":${jstr(r.getAs[String]("language"))},"score":${r.getAs[Long]("score")}}"""
    }.mkString("[", ",", "]")
  }

  /** Numeric-field histogram over a query's hit set
    * (`WikiSearchEngine.histogram`) as a JSON array of
    * {bucket, lo, hi, n} with the bucket's value range inlined.
    */
  def histogram(q: String, field: String, lo: Long, width: Long,
      buckets: Int, auths: Seq[String] = Nil): String = {
    val rows = engine.histogram(q, field, lo, width, buckets, auths).collect()
    rows.map { r =>
      val b = r.getAs[Long]("bucket")
      s"""{"bucket":$b,"lo":${lo + b * width},"hi":${lo + (b + 1) * width},"n":${r.getAs[Long]("n")}}"""
    }.mkString("[", ",", "]")
  }

  /** Facet counts for a query's hit set (`WikiSearchEngine.facets`) as
    * a JSON array; a null facet value (document missing the field)
    * serializes as JSON null.
    */
  def facets(q: String, field: String, auths: Seq[String] = Nil): String = {
    val rows = engine.facets(q, field, auths).collect()
    rows.map { r =>
      val v = Option(r.getAs[String]("value")).map(jstr).getOrElse("null")
      s"""{"language":${jstr(r.getAs[String]("language"))},"value":$v,"n":${r.getAs[Long]("n")}}"""
    }.mkString("[", ",", "]")
  }

  /** Collapsed results for a query's hit set (`WikiSearchEngine.collapse`)
    * — one representative doc per field value + group size, JSON array.
    */
  def collapse(q: String, field: String, auths: Seq[String] = Nil): String = {
    val rows = engine.collapse(q, field, auths).collect()
    rows.map { r =>
      val v = Option(r.getAs[String]("value")).map(jstr).getOrElse("null")
      val top = if (r.isNullAt(r.fieldIndex("top_doc"))) "null"
                else r.getAs[Long]("top_doc").toString
      s"""{"value":$v,"n":${r.getAs[Long]("n")},"top_doc":$top}"""
    }.mkString("[", ",", "]")
  }

  /** Prefix autocomplete (`WikiSearchEngine.completeTerms`) — top-k
    * indexed terms for a prefix with document frequencies, JSON array.
    */
  def complete(prefix: String, limit: Int, auths: Seq[String] = Nil): String = {
    val rows = engine.completeTerms(prefix, limit, auths).collect()
    rows.map { r =>
      s"""{"term":${jstr(r.getAs[String]("term"))},"df":${r.getAs[Long]("df")}}"""
    }.mkString("[", ",", "]")
  }

  /** Index catalog statistics (`WikiSearchEngine.indexStats`) as a JSON
    * array — the operational ANALYZE surface, auth-gated per language.
    */
  def stats(auths: Seq[String] = Nil): String = {
    val rows = engine.indexStats(auths).collect()
    rows.map { r =>
      s"""{"language":${jstr(r.getAs[String]("language"))},"n_docs":${r.getAs[Long]("n_docs")},"n_terms":${r.getAs[Long]("n_terms")},"n_postings":${r.getAs[Long]("n_postings")},"n_tokens":${r.getAs[Long]("n_tokens")}}"""
    }.mkString("[", ",", "]")
  }

  /** Multi-term snippets (`WikiSearchEngine.snippets`) — one entry per
    * (document, matched term), first `limit` rows as a JSON array.
    */
  def snippets(terms: Seq[String], window: Int = 3, limit: Int = 100,
      auths: Seq[String] = Nil): String = {
    val rows = engine.snippets(terms, window, tokenizer, auths).limit(limit).collect()
    rows.map { r =>
      s"""{"id":${jstr(r.getAs[String]("docId"))},"language":${jstr(r.getAs[String]("language"))},"term":${jstr(r.getAs[String]("term"))},"snippet":${jstr(r.getAs[String]("snippet"))}}"""
    }.mkString("[", ",", "]")
  }

  /** Phrase snippets (`WikiSearchEngine.phraseSnippets`) — documents
    * where the phrase occurs as adjacent tokens, JSON array.
    */
  def phraseSnippets(phrase: Seq[String], window: Int = 3, limit: Int = 100,
      auths: Seq[String] = Nil): String = {
    val rows = engine.phraseSnippets(phrase, window, tokenizer, auths).limit(limit).collect()
    rows.map { r =>
      s"""{"id":${jstr(r.getAs[String]("docId"))},"language":${jstr(r.getAs[String]("language"))},"snippet":${jstr(r.getAs[String]("snippet"))}}"""
    }.mkString("[", ",", "]")
  }

  private def jstr(s: String): String = QueryService.jstr(s)

  private def toDocument(r: Row): Document = {
    val fields = r.getAs[Map[String, scala.collection.Seq[String]]]("fields").toSeq
      .flatMap { case (name, vals) => vals.toSeq.map(v => Field(name, v)) }
      .sortBy(f => (f.name, f.value))
    Document(r.getAs[String]("docId"), r.getAs[String]("DOCUMENT"), fields)
  }
}

object QueryService {

  /** JSON string literal: a quote, backslash, OR control character in a
    * stored id/value/token must not break the document — U+0000–U+001F
    * are invalid raw in JSON strings, and `tokenizeWs` splits on single
    * spaces only, so a stored token CAN carry a literal newline/tab.
    * ONE escaping for every interpolated string on the serving edge
    * (shared with `AnalyticsService`) and for `Verify`'s oracle SQL file.
    */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")

  /** Memoized LSM time-travel resolver over a live store, for
    * `HttpShim`'s `asOf=` serving: version → a QueryService bound to
    * the consistent snapshot `LiveEngineMaintainer.indexAt(version)`
    * (ingests AND deletes after it invisible), or None when the version
    * was never committed or its deltas were swept by compaction.
    * Resolved services are cached (an engine per snapshot collects its
    * catalog once) KEYED BY the directory read-set they were resolved
    * from (`m.snapshotKey`, one driver-side listing per request): a
    * compaction that sweeps or rebases those dirs changes the key, so
    * the stale service is evicted and the version re-resolves — to a
    * fresh snapshot when a new base still covers it, or to the
    * documented None/404 when it was swept — instead of serving
    * DataFrames whose resolved paths no longer exist (permanent 500s).
    * Misses are NOT cached — a version can commit after it was first
    * asked for. Live stores are documents-table builds, so the default
    * tokenizer here is the whitespace one (it must match the tokenizer
    * that built the index — the snippet-window contract).
    */
  def versioned(m: graft.streaming.LiveEngineMaintainer,
      tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFunctions.tokenizeWs(_),
      embeddings: Option[org.apache.spark.sql.DataFrame] = None,
      /** Resolver capacity: under LIVE-LATEST serving (`HttpShim.live`)
        * every commit resolves a NEW version through here, so an
        * unbounded map would accumulate one engine per version for the
        * store's lifetime. The oldest versions beyond the bound evict —
        * safe, because a resolved engine pins no Spark storage (its
        * state is driver-side LRU maps and lazy plans; eviction is GC)
        * and a late request for an evicted version just re-resolves.
        */
      maxVersions: Int = 16)
      : Long => Option[QueryService] = {
    val cache = new java.util.concurrent.ConcurrentHashMap[
      Long, ((Option[Long], Seq[Long]), QueryService)]()
    (ver: Long) =>
      // indexAt(v) resolves "everything ≤ v", so an uncommitted future
      // version would silently serve latest — reject it here (a typo'd
      // asOf must be a 404, not a surprise snapshot). The reject path
      // consults DISK before answering: the in-JVM pointer lags an
      // out-of-process writer, and an asOf request for a freshly
      // committed version must serve, not 404 until some other request
      // happens to refresh the pointer (serveSnapshot refreshes it).
      if (ver > m.latestVersion &&
          m.serveSnapshot().forall(_.latest < ver)) None
      else {
        val key = m.snapshotKey(ver)
        Option(cache.get(ver)).collect { case (k, svc) if k == key => svc }
          .orElse {
            cache.remove(ver)
            m.indexAt(ver).map { ix =>
              val svc = new QueryService(
                new graft.query.WikiSearchEngine(ix.metadata.sparkSession, ix),
                tokenizer, embeddings)
              cache.putIfAbsent(ver, (key, svc))
              // take the winner BEFORE bounding: the eviction below may
              // remove this very version (an old asOf beyond capacity)
              val winner = Option(cache.get(ver)).map(_._2).getOrElse(svc)
              while (cache.size > maxVersions) {
                import scala.jdk.CollectionConverters._
                cache.keySet().asScala.minOption.foreach(cache.remove(_))
              }
              winner
            }
          }
      }
  }
}
