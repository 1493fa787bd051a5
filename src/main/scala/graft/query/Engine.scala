package graft.query

import graft.functions.TextFunctions
import graft.ingest.WikiIndex

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine configuration, mirroring the reference's query-logic options
  * (`AbstractQueryLogic.java:536-539`, `Query.java:245`).
  *
  * @param unevaluatedFields fields whose index hits are trusted without
  *        residual re-evaluation (reference default: TEXT). Our event view
  *        CAN evaluate TEXT (tokens come from term_postings), so the exact
  *        default is empty — set to Set("TEXT") for reference-parity
  *        behavior. Reference-parity caveat (as in the reference, which
  *        substitutes `field == null` unconditionally,
  *        AbstractEvaluatingIterator.java:292-301): a term on an
  *        unevaluated field that the index could NOT answer (e.g. an
  *        opaque mid-string regex with no extractable trigram — gram-
  *        extractable ones now plan as exact EQ leaves via the trigram
  *        path — or a NEGATED regex; NRE terms never prune) is never
  *        checked anywhere — that is the cost of declaring a field
  *        unevaluated. Index-answerable terms (EQ/NE/prefix/suffix/
  *        bounded range) stay EXACT even through lossy shard fallbacks
  *        (fi-style verification).
  */
case class EngineConfig(
    unevaluatedFields: Set[String] = Set.empty,
    /** Driver-side LRU cache of per-term index postings (0 disables).
      * The engine is bound to an immutable index snapshot, so entries
      * never go stale; memory is bounded by the lossy UidList contract
      * (≤ shards × MAX uids per term) — the same bound the reference
      * relies on when it collects ranges client-side.
      */
    termCacheSize: Int = 8192,
    /** Expansion cap for `f:fuzzy` index planning: beyond this many
      * vocabulary matches the term is so generic that a full scan +
      * exact residual is the better plan anyway (and the plan-time
      * collect stays bounded by construction).
      */
    fuzzyExpandMax: Int = 64,
    /** Expansion cap for the trigram-accelerated opaque-regex access
      * path: beyond this many matching vocabulary values the pattern is
      * so unselective that the full-scan residual is the better plan
      * (and the plan-time collect stays bounded by construction).
      */
    regexExpandMax: Int = 256,
    /** Query-time synonym expansion (beyond the reference — its
      * multi-normalizer OR-expansion generalized to arbitrary
      * equivalence sets, the Lucene SynonymFilter serving shape):
      * normalized literal → additional equivalent terms. Applied as an
      * AST rewrite BEFORE planning and residual compilation, so the
      * index path and the residual see the SAME expanded expression and
      * cannot disagree — `field == 'v'` becomes the OR over the set,
      * `field != 'v'` the AND of exclusions (keeping `!=` consistent
      * with `not(==)`). Keys are matched on the field-normalized form.
      */
    synonyms: Map[String, Seq[String]] = Map.empty,
    /** Fields the synonym table applies to (expansion on an ID-like
      * field is rarely intended).
      */
    synonymFields: Set[String] = Set("TEXT"))

/** The query engine: parse → plan (access path, SURVEY.md §4.1) →
  * execute (index semi/anti-join DAG or full scan) → pivot + residual
  * filter → results. The Spark-native replacement for the whole
  * `AbstractQueryLogic` / `RangeCalculator` / `BooleanLogicIterator`
  * stack (SURVEY.md §3.1): steps 5–7 of the reference lifecycle collapse
  * into one Catalyst-optimized DataFrame program.
  *
  * Scale posture (100 TB): candidate generation only touches
  * `global_index` rows pruned by (fieldName, fieldValue) — a sorted
  * parquet scan with pushed filters; posting lists are lossy-bounded
  * (UidList MAX=20) so no candidate explosion; the index is never treated
  * as exact — the residual filter decides truth (`QueryLogic.java:173-186`).
  * No driver-side collect sits on any data path except the tiny metadata
  * table (broadcast-size by construction).
  */
class WikiSearchEngine(
    spark: SparkSession,
    index: WikiIndex,
    config0: EngineConfig = EngineConfig()) {

  import WikiSearchEngine._
  import spark.implicits._

  graft.plans.GraftFunctions.register(spark)

  /** Effective config: an explicitly-passed synonym table wins; with
    * the default (empty) table, a `synonyms` part saved on the index
    * REHYDRATES the equivalence sets — synonym semantics are INDEX
    * state (the reference persists per-field query semantics in its
    * metadata table, `WikipediaMapper.java:199-208`), and a table that
    * lived only on the session would let two sessions serving the same
    * saved store silently disagree on expanded results. One
    * catalog-sized collect at engine construction, same cost class as
    * `indexedFields`.
    */
  private val config: EngineConfig =
    if (config0.synonyms.nonEmpty) config0
    else index.storedSynonyms match {
      case None => config0
      case Some(df) =>
        val rows = df.collect()
        val syn = rows.filter(_.getAs[String]("kind") == "syn")
          .groupBy(_.getAs[String]("name"))
          .map { case (t, rs) =>
            t -> rs.map(_.getAs[String]("value")).toSeq.distinct.sorted }
        val flds = rows.filter(_.getAs[String]("kind") == "fld")
          .map(_.getAs[String]("name")).toSet
        if (syn.isEmpty) config0
        else config0.copy(synonyms = syn,
          synonymFields = if (flds.isEmpty) config0.synonymFields else flds)
    }

  /** field → normalizer fns (plural), from the metadata catalog (tiny;
    * collected once — the analogue of `findIndexedTerms`,
    * `AbstractQueryLogic.java:230-283`). A field may carry SEVERAL
    * normalizers — the reference stores one metadata row per normalizer
    * class and OR-expands a query literal through all of them
    * (`FieldIndexQueryReWriter.orNormalizedTerms:460+`); here the
    * expansion lands in the EQ probe's IN-list, so it still pushes to
    * the index scan. This is also the sanctioned fix for case-folded
    * lookup on identity-normalized fields: declare the Lc normalizer
    * alongside NoOp in metadata and index both forms.
    */
  private lazy val indexedFields: Map[String, Seq[String => String]] = {
    val rows = index.metadata.filter(col("kind") === "i")
      .select("fieldName", "normalizer").distinct().collect()
    rows.groupBy(_.getString(0)).map { case (f, rs) =>
      f -> rs.toSeq.map(_.getString(1)).distinct.map(normFn)
    }
  }

  private def normFn(name: String): String => String =
    if (name == graft.ingest.IndexBuilder.LcNormalizer) TextFunctions.lcNoDiacritics
    else identity

  /** Residual-filter normalizers per field: lc-no-diacritics fields
    * compare through the native `graft_normalize` expression so the
    * residual accepts exactly what the index matched.
    */
  private lazy val residualNorms: Map[String, Compiler.FieldNorm] = {
    val rows = index.metadata.filter(col("kind") === "i")
      .select("fieldName", "normalizer").distinct().collect()
    rows.collect {
      case r if r.getString(1) == graft.ingest.IndexBuilder.LcNormalizer =>
        r.getString(0) -> Compiler.FieldNorm(
          v => call_function("graft_normalize", v),
          TextFunctions.lcNoDiacritics)
    }.toMap
  }

  /** Primary (coarsest) normalized form — used where ONE canonical form
    * is needed (range bounds). Lc subsumes NoOp matches, so it's the
    * coarsest when present.
    */
  private def normalizeLit(field: String, v: String): String =
    indexedFields.get(field) match {
      case Some(fns) =>
        val lc = TextFunctions.lcNoDiacritics(v)
        val forms = fns.map(_(v))
        if (forms.contains(lc)) lc else forms.head
      case None => v.toLowerCase
    }

  /** ALL index-probe forms of an EQ literal: the literal expanded through
    * every normalizer the field carries, each further expanded to its
    * canonical numeric renderings (eqForms). Finite IN-list ⇒ the probe
    * still pushes to parquet.
    */
  private def probeForms(field: String, v: String): Seq[String] =
    indexedFields(field).flatMap(fn => eqForms(fn(v))).distinct

  /** All doc ids (for ignore-shard fallback), partition-pruned at use. */
  private lazy val allDocs: DataFrame =
    index.documents.select("partition", "language", "docId")

  /** Fields with stored positional offsets — TEXT (the dedicated
    * `termPostings` table) plus every field the build declared via
    * `offsetsFields` (metadata `kind = "p"` rows → `fieldPostings`).
    * This is the `f:near`/`f:onear`/`f:phrase` capability set; the
    * catalog is the source of truth, never a probe of the table.
    */
  private lazy val positionalFields: Set[String] =
    index.metadata.filter(col("kind") === "p")
      .select("fieldName").distinct().collect().map(_.getString(0)).toSet + "TEXT"

  /** The positional postings source for one field. Non-TEXT fields read
    * the shared `fieldPostings` table filtered to the field — the
    * equality predicate pushes to its fieldName-sorted parquet scan.
    * Missing table + declared kind-p field is genuine loss/corruption
    * and fails LOUDLY (a legal all-null corpus round-trips an empty
    * table through save/load — the save path writes a schema-carrying
    * empty file for exactly this reason).
    */
  private def postingsFor(field: String): DataFrame =
    if (field == "TEXT") index.termPostings
    else index.fieldPostings
      .map(_.filter(col("fieldName") === field).drop("fieldName"))
      .getOrElse(throw new IllegalStateException(
        s"metadata declares positional field '$field' but the index has no field_postings table"))

  // ---- public API ---------------------------------------------------------

  /** Run a query; returns (partition, language, docId, fields, DOCUMENT). */
  def run(query: String, auths: Seq[String] = Nil): DataFrame =
    execute(new Planned(validated(query), auths))

  /** The event-store program for a planned query: candidates → event
    * scan → residual filter → results.
    */
  private def execute(p: Planned): DataFrame = {
    val authFilter = langAuth(p.auths)
    p.cand match {
      case Some(cand) =>
        // Candidates restrict the stored event view by semi-join (index
        // nested-loop doc fetch J3, as a distributed semi-join). When the
        // candidate set is driver-local its shard set is known at plan
        // time — push it as a STATIC partition filter so the event scan
        // reads only the touched shards (the reference's shard-range
        // seek; at 100 TB this is the difference between 3 partition
        // dirs and all of them).
        val shardPrune: DataFrame => DataFrame = partsOf(cand) match {
          case Some(parts) if parts.nonEmpty =>
            df => df.filter(col("partition").isin(parts: _*))
          case _ => identity
        }
        val events = cand match {
          // Driver-local candidates (exact docs + symbolic lossy
          // shards) compile to ONE IN predicate on the event scan — no
          // broadcast exchange, no semi-join: a warm all-EQ query is a
          // single Spark job. Empty candidates fold to lit(false) and
          // PropagateEmptyRelation collapses the whole plan.
          case LocalCand(docs, shards, _) =>
            shardPrune(authFilter(index.events))
              .filter(candPredicate(docs, shards))
          case _ =>
            eventView(
              auth = df => shardPrune(authFilter(df)),
              candidates = Some(candidateDf(cand)))
        }
        // nearEnforced: any f:near leaf in this tree materialized as a
        // NearLeaf intersection above — TRUE residual is sound HERE only
        finish(events.filter(
          Compiler.compile(p.ast, config.unevaluatedFields, residualNorms,
            nearEnforced = true)))
      case None => // full scan (AbstractQueryLogic.java:838-884)
        // no index plan ⇒ nothing enforces a NearLeaf ⇒ nearEnforced
        // stays false and a (theoretically unreachable) near term here
        // fails loudly instead of matching everything
        finish(eventView(authFilter, None)
          .filter(Compiler.compile(p.ast, norms = residualNorms)))
    }
  }

  /** Count-only serving — "how many hits" without fetching any of them
    * (beyond the reference, whose query logics always emit the full
    * result set). Returns one row, `cnt BIGINT`. Plans the query once
    * (`planCount`).
    *
    * FAST PATH (`fastCount`): when the plan is pure boolean-over-EQ —
    * every leaf an `EqLeaf` whose postings carry no lossy `ignore` rows,
    * no range/regex scan leaf, no proximity leaf, default config — the
    * materialized candidate set is driver-local and EXACT (the symbolic
    * shard part is empty at every node, and OR-union / AND-intersect /
    * NOT-subtraction over exact uid sets are exact set algebra), so the
    * hit count is its size, computed entirely from plan-time postings.
    * A warm query (term-cache hit) answers with ZERO Spark jobs and
    * never touches the event store — the index-only aggregate a
    * 100 TB deployment wants for result-count badges and EXISTS-style
    * pre-checks. Exactness of the fast path against the residual-
    * verified path is pinned by CountServingSpec's metamorphic harness.
    *
    * Anything else (lossy rows, scans, near/phrase/fuzzy-fallback,
    * unevaluated fields) falls back to counting the residual-verified
    * `run` program of the SAME planned query — same result, executed
    * distributed.
    */
  def countDocs(query: String, auths: Seq[String] = Nil): DataFrame =
    planCount(query, auths).fold(
      n => spark.range(1).select(lit(n).cast("bigint").as("cnt")), identity)

  /** One planning pass for a count: the driver-local fast-path count
    * (Left), or the unexecuted fallback count over the same planned
    * query (Right, one `cnt BIGINT` row). `QueryService.count` serves
    * `{count, fast}` from this, so a fallback count plans once.
    */
  private[graft] def planCount(query: String, auths: Seq[String] = Nil): Either[Long, DataFrame] = {
    val p = new Planned(validated(query), auths)
    fastCountOf(p).toLeft(execute(p).agg(count(lit(1)).cast("bigint").as("cnt")))
  }

  /** True iff the EXPRESSION (not just the plan) is computable exactly
    * from exact postings: EQ leaves on indexed fields, NE only in
    * conjunctive positions (where the planner turns it into an exact
    * anti-join whose absence semantics — including the missing-field
    * case — coincide with the residual's `anyMatch` negation), composed
    * by AND/OR. Everything else (ranges, regex, functions, `not(...)`
    * subtrees, NE under OR) is rejected: `analyze` handles those by
    * DROPPING or WEAKENING branches into a candidate SUPERSET that only
    * the residual restores — sound for `run`, unsound for an index-only
    * count (a dropped `NCHARS < n` branch would overcount). Pinned by
    * EngineEquivalenceSpec's random-query fastCount property.
    */
  private def exactCountable(e: QExpr): Boolean = e match {
    case t: Term => (t.op == Op.EQ || t.op == Op.NE) && indexedFields.contains(t.field)
    case Or(cs) => cs.forall { c =>
      // an ALL-negative branch (a bare NE, or an And of only NEs — e.g.
      // a synonym-expanded exclusion) can't anti-join under OR: analyze
      // returns None for it and the enclosing conjunction would drop
      // the branch into a candidate superset — sound for run(), an
      // overcount here. A MIXED And (positive + NE) stays countable:
      // analyze anti-joins its negatives inside the branch.
      !QExpr.allNegated(c) && exactCountable(c)
    }
    case And(cs) => cs.forall(exactCountable)
    case _       => false // Not/FnTerm/FnCmp/BareTerm/range/regex shapes
  }

  /** The driver-local fast-path count, or None when the query shape
    * requires residual verification (package-visible so the spec can
    * assert which path engaged).
    */
  private[graft] def fastCount(query: String, auths: Seq[String] = Nil): Option[Long] =
    fastCountOf(new Planned(validated(query), auths))

  /** The fast-path count of a planned query. Shape checks run before
    * the planned value's lazy stats, so a declined shape costs no
    * plan-time index job here.
    */
  private def fastCountOf(p: Planned): Option[Long] =
    if (config.unevaluatedFields.nonEmpty || !exactCountable(p.ast) ||
        !p.tree.exists(treeLeaves(_).forall(_.isInstanceOf[EqLeaf])) ||
        p.stats.valuesIterator.exists(_.rows.exists(_.ignore))) None
    else p.cand.collect { case LocalCand(docs, Nil, _) => docs.size.toLong }

  /** Document point-fetch — `ContentLogic.runQuery`
    * (`query/.../logic/ContentLogic.java:56-107`): `DOCUMENT:partition/lang/id`
    * → Base64-decoded content. A partition-pruned single-key scan.
    */
  def content(pointer: String): DataFrame = {
    val m = "^DOCUMENT:(.*)/(.*)/(.*)$".r
      .findFirstMatchIn(pointer)
      .getOrElse(throw new IllegalArgumentException(s"bad document pointer: $pointer"))
    index.documents
      .filter(col("partition") === m.group(1).toInt &&
        col("language") === m.group(2) && col("docId") === m.group(3))
      .select(col("partition"), col("language"), col("docId"),
        unbase64(col("textB64")).cast("string").as("DOCUMENT"))
  }

  /** BM25 ranked retrieval over this engine's own index (beyond the
    * reference, which returns unranked sets although its index already
    * stores everything BM25 needs): tf = TermWeight offsets length, df
    * from the filtered postings, document length and corpus stats from
    * the index's MATERIALIZED `doc_lengths` / `corpus_stats` tables
    * (precomputed at build — dl is definitionally the token count of
    * the stream that built the postings, so tf and dl come from the
    * same tokenizer by construction). Per-term contributions are summed
    * in EXPLICIT term order so the float association is reproducible.
    *
    * `tieBreak` orders equal-score documents (and is the secondary sort
    * under the score): callers with numeric document ids pass the cast
    * column so ties match a numeric oracle; default is the stored
    * string docId.
    *
    * `auths` restricts BOTH the postings and the corpus statistics to
    * the authorized languages — an unauthorized document must neither
    * appear in results nor influence df/avgdl (same visibility model as
    * `run`).
    *
    * This FULL-RANKING form assigns a rank to EVERY hit via a global
    * window — it is the oracle/analytics surface. A global rank is
    * inherently a single-ordering operation; for serving (where only
    * the top k are wanted) use `rankTopK`, which plans as a bounded
    * TakeOrderedAndProject instead of moving the whole hit set through
    * one window task.
    */
  def rank(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      tieBreak: Column = col("docId"),
      auths: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scored(terms, k1, b, auths)
      .select(row_number().over(
        Window.orderBy(col("score").desc, tieBreak, col("language"), col("partition")))
        .cast("bigint").as("rank"), col("docId"), col("language"), col("score"))
      .orderBy("rank")
  }

  /** BM25 top-`k` for SERVING: same scoring plan as `rank`, but the
    * ordering is a sort+limit — Spark plans it as TakeOrderedAndProject
    * (per-partition top-k, then a k-bounded merge on the driver), so no
    * task ever holds more than k rows regardless of hit-set size. Rank
    * numbers are the caller's row index (the result IS the top-k in
    * rank order) — the presentation edge assigns them after collect.
    */
  def rankTopK(terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      tieBreak: Column = col("docId"),
      auths: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    bm25Scored(terms, k1, b, auths)
      .orderBy(col("score").desc, tieBreak, col("language"), col("partition"))
      .limit(k)
      .select(col("docId"), col("language"), col("score"))
  }

  /** Authorized document ids, as bigints — the visibility mask for
    * serving surfaces that join engine-EXTERNAL per-doc tables (hybrid
    * retrieval's semantic ranking over an embeddings table). The same
    * ONE visibility rule (`langAuth`) as every content-returning
    * surface; a ranking produced outside the engine must not leak an
    * unauthorized document any more than a search hit would.
    */
  def authorizedIds(auths: Seq[String]): DataFrame =
    langAuth(auths)(index.documents)
      .select(col("docId").cast("bigint").as("id")).distinct()

  /** Keyset ("search after") page of the BM25 ranking: the `k` results
    * strictly AFTER the sort position (`afterScore`, `afterTie`[,
    * `afterLanguage`, `afterPartition`]) in `rankTopK`'s ordering
    * (score DESC, tieBreak ASC, language ASC, partition ASC).
    *
    * This is OFFSET-free pagination: the boundary predicate filters
    * BEFORE the bounded TakeOrderedAndProject, so page N costs the same
    * as page 1 — an OFFSET plan must order and discard N·k rows in one
    * task, which is the part that stops scaling. Scores are rounded to
    * 4 dp by `bm25Scored`, so boundary equality is well-defined and
    * reproducible across runs. Pass the deeper keys only when `tieBreak`
    * values can tie: rows equal on ALL provided keys are excluded (with
    * a unique tie-break — e.g. a numeric primary-key docId — the two-key
    * form is already total).
    */
  def rankPage(terms: Seq[String], k: Int, afterScore: Double, afterTie: Any,
      afterLanguage: Option[String] = None, afterPartition: Option[Int] = None,
      k1: Double = 1.2, b: Double = 0.75,
      tieBreak: Column = col("docId"),
      auths: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    // lexicographic "strictly after", truncated to the keys provided
    val partAfter = afterPartition.map(p => col("partition") > lit(p)).getOrElse(lit(false))
    val langAfter = afterLanguage.map(l =>
      col("language") > lit(l) || (col("language") === lit(l) && partAfter))
      .getOrElse(lit(false))
    val after = col("score") < lit(afterScore) ||
      (col("score") === lit(afterScore) &&
        (tieBreak > lit(afterTie) || (tieBreak === lit(afterTie) && langAfter)))
    bm25Scored(terms, k1, b, auths)
      .filter(after)
      .orderBy(col("score").desc, tieBreak, col("language"), col("partition"))
      .limit(k)
      .select(col("docId"), col("language"), col("score"))
  }

  /** More-like-this: the top-`k` documents sharing vocabulary with a
    * SOURCE document (Lucene's MoreLikeThis serving shape), scored by
    * rarity-weighted coordination — each shared DISTINCT term
    * contributes `N − df(term)`, the integer idf surrogate, so rare
    * shared terms dominate stopwords while the score stays EXACT
    * integer arithmetic (portable to any oracle; the float-scored
    * analogue is `rank(sourceTerms…)`). The source document itself is
    * excluded.
    *
    * Plan shape: the source's distinct terms (≤ its vocabulary, tiny)
    * broadcast into the postings filter; df aggregates only those
    * terms' postings; one keyed sum per candidate; the top-k is a
    * bounded TakeOrderedAndProject. No driver-side collect anywhere,
    * and `auths` restricts candidates, df AND N (same visibility model
    * as `rank`).
    */
  def moreLikeThis(docId: String, k: Int,
      tieBreak: Column = col("docId"),
      auths: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    val posts = langAuth(auths)(index.termPostings)
    val srcTerms = posts.filter(col("docId") === docId).select("term").distinct()
    // N from the materialized per-language corpus stats (driver-cached
    // literal, same source as BM25's) — not a documents-table count per
    // call, which at corpus scale is a full file-listing+footer pass
    val n = corpusStatsFor(auths)._1.toLong
    val tf = posts.join(broadcast(srcTerms), "term")
    val df = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    tf.join(broadcast(df), "term")
      .filter(col("docId") =!= docId)
      .groupBy("partition", "language", "docId")
      .agg(sum(lit(n) - col("df")).cast("long").as("score"))
      .orderBy(col("score").desc, tieBreak, col("language"), col("partition"))
      .limit(k)
      .select(col("docId"), col("language"), col("score"))
  }

  private def bm25Scored(terms: Seq[String], k1: Double, b: Double,
      auths: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "rank() needs at least one term")
    // Lengths and postings join on the FULL document key (partition,
    // language, docId): a docId repeated across languages is a distinct
    // document and must neither duplicate-join its dl row nor merge
    // score contributions with its namesakes.
    //
    // dl and (N, avgdl) come from the index's MATERIALIZED statistics,
    // the reference's own posture (`TermWeight.proto:54-57` denormalizes
    // the document length into every posting) — NOT from re-tokenizing
    // stored content, which at corpus scale is a full-corpus pass per
    // ranked query. dl rides ON the posting row (stored at build; the
    // `doc_lengths` table remains the analytic/stats surface), so
    // scoring touches ONLY the query terms' postings — no corpus-sized
    // doc-length join either. (N, avgdl) fold driver-side from the
    // catalog-sized per-language stats and enter the plan as LITERALS —
    // avgdl = Σdl / N over exact integer-valued doubles, so the
    // quotient is bit-identical to the flat per-document average at any
    // association order, and the per-call stats aggregation job +
    // broadcast exchange disappear from the serving latency path.
    // (Pre-round-9 stores whose postings lack the dl column fall back
    // to joining the doc_lengths table — same values, one extra join.)
    val docKey = Seq("partition", "language", "docId")
    val (nDocs, avgdl) = corpusStatsFor(auths)
    val hasDl = index.termPostings.columns.contains("dl")
    val tfBase = langAuth(auths)(index.termPostings)
      .filter(col("term").isin(terms: _*))
    val tf =
      if (hasDl) tfBase.select(
        col("partition"), col("language"), col("docId"), col("term"),
        size(col("offsets")).cast("double").as("tf"), col("dl"))
      else tfBase.select(
        col("partition"), col("language"), col("docId"), col("term"),
        size(col("offsets")).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val withDf = tf.join(broadcast(df), "term")
    val contrib = (if (hasDl) withDf
      else withDf.join(langAuth(auths)(index.docLengths), docKey))
      .select(col("partition"), col("language"), col("docId"), col("term"),
        (log(lit(1) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5))
          * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + (lit(b) * col("dl")) / lit(avgdl))))
          .as("c"))
    contrib.groupBy(docKey.map(col): _*).agg(
      round(terms.map(t => coalesce(max(when(col("term") === t, col("c"))), lit(0)))
        .reduce(_ + _), 4).as("score"))
  }

  /** Driver-side cache of (N, avgdl) per auths set: the per-language
    * stats table is catalog-sized (≤ #languages rows) and the engine is
    * bound to an immutable index snapshot, so the fold is collected
    * once per distinct auths set and inlined into every subsequent
    * ranked plan as literals (the termCache discipline — get/put, no
    * lock held across the collect; a racing duplicate is idempotent).
    */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], (Double, Double)]()

  private def corpusStatsFor(auths: Seq[String]): (Double, Double) = {
    val key = auths.sorted
    Option(statsCache.get(key)).getOrElse {
      val r = langAuth(auths)(index.corpusStats)
        .agg(sum(col("n")).cast("double"), sum(col("sum_dl")))
        .collect().head
      val n = Option(r.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val sumDl = Option(r.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val stats = (n, if (n == 0) 1.0 else sumDl / n)
      statsCache.put(key, stats)
      stats
    }
  }

  /** The one visibility rule (language = Accumulo column visibility in
    * this engine's model, SURVEY §2): empty auths ⇒ unrestricted, else
    * restrict to the authorized languages. Shared by `run` and every
    * content-returning surface so no route can drift from it.
    */
  private def langAuth(auths: Seq[String]): DataFrame => DataFrame =
    df => if (auths.isEmpty) df else df.filter(col("language").isin(auths: _*))

  /** Term-in-context snippets: ±`window` tokens around the term's FIRST
    * occurrence in each document containing it — the classic use of the
    * TermWeight word offsets the reference stores but never queries
    * (`ws_phrase` uses them for adjacency; this uses them for display).
    * Plan shape: postings filtered to one term (tiny), co-partitioned
    * join to the content store on (partition, language, docId), one
    * narrow tokenize+slice projection — no corpus scan, no offsets
    * recomputation.
    *
    * `tokenizer` must match the one that BUILT the index (offsets index
    * into its token stream): `TextFunctions.tokenize` for the wiki XML
    * path, `TextFunctions.tokenizeWs` for the documents-table path.
    */
  def highlights(term: String, window: Int = 3,
      tokenizer: Column => Column = graft.functions.TextFunctions.tokenize,
      auths: Seq[String] = Nil): DataFrame = {
    val first = langAuth(auths)(index.termPostings).filter(col("term") === term)
      .select(col("partition"), col("language"), col("docId"),
        col("offsets").getItem(0).as("pos"))
    first.join(index.documents, Seq("partition", "language", "docId"))
      .select(col("docId"), col("language"),
        concat_ws(" ", slice(
          tokenizer(unbase64(col("textB64")).cast("string")),
          greatest(col("pos") - window + 1, lit(1)), lit(2 * window + 1)))
          .as("snippet"))
      .orderBy("docId")
  }

  /** Typo-tolerant term lookup ("did you mean") — index terms within
    * Levenshtein distance 1 of `term`, with document frequency.
    * SymSpell-style (Garbe's symmetric-delete scheme): Lev(a,b) ≤ 1
    * implies the 1-deletion neighborhoods of a and b (each including
    * the string itself) intersect, so an equi-join of the dictionary's
    * exploded neighborhood against the query's broadcast neighborhood
    * is a COMPLETE candidate generator, and the exact codegen'd
    * `levenshtein` verify on the candidates makes it precise (the
    * neighborhood test alone admits e.g. transposed pairs at distance
    * 2). Cost shape: ONE pass over postings (the vocabulary-sized
    * df aggregation doubles as the dictionary), exploded ~(len+1)× by
    * a codegen'd expression — `substr`/`length`/`levenshtein` all
    * count CODEPOINTS, so the completeness claim holds beyond the BMP
    * too (a UTF-16-unit deletion loop would miss supplementary-plane
    * neighbors); the query side is ≤ len+1 rows broadcast. No corpus
    * scan, no all-pairs distance.
    *
    * `term` follows `rank()`'s contract: pass it pre-normalized the
    * way the index normalizes (lowercase for the stock paths).
    *
    * `auths` restricts the vocabulary AND the df counts to the
    * authorized languages: term existence is itself information about
    * unauthorized content (same visibility model as `run`).
    */
  /** Prefix autocomplete over the indexed vocabulary — top-k terms
    * starting with `prefix`, ranked by document frequency (ties → term).
    * Served from the GLOBAL INDEX, whose storage is value-sorted, so
    * the prefix predicate pushes to the parquet scan as a
    * StringStartsWith filter (the forward twin of the reverse-index
    * suffix probe): the scan reads the one sorted slice holding the
    * prefix range, never the vocabulary. The aggregation folds the
    * per-shard lossy rows' counts — df here is the same
    * document-frequency surface `ws_index_termfreq` verifies.
    */
  def completeTerms(prefix: String, k: Int, auths: Seq[String] = Nil): DataFrame = {
    require(prefix.nonEmpty, "completeTerms() needs a non-empty prefix")
    require(k > 0, s"k must be > 0: $k")
    langAuth(auths)(index.globalIndex)
      .filter(col("fieldName") === "TEXT" &&
        col("fieldValue").startsWith(prefix.toLowerCase))
      .groupBy(col("fieldValue").as("term"))
      .agg(sum(col("count")).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  def fuzzyTerms(term: String, auths: Seq[String] = Nil, maxDist: Int = 1): DataFrame = {
    require(term.nonEmpty, "fuzzyTerms() needs a non-empty term")
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2: $maxDist")
    val qvars = spark.createDataFrame(dels(term, maxDist).map(Tuple1(_))).toDF("del")
    langAuth(auths)(index.termPostings)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(length(col("term")) > 0) // sequence(0,-1) would descend, not empty
      .withColumn("del", explode(delNeighborhood(col("term"), maxDist)))
      .join(broadcast(qvars), Seq("del"))
      .select("term", "df").distinct()
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
      .orderBy("term")
  }

  /** Up-to-`d`-deletion neighborhood of `t` (including `t` itself),
    * query-side: codepoint-based, so the SymSpell completeness claim
    * holds beyond the BMP. Shared by `fuzzyTerms` and the `f:fuzzy`
    * plan expansion. Depth composes: dels≤2 = dels≤1 of every member
    * of dels≤1 (deleting two positions in either order meets in the
    * same string), which is how both this and the dictionary-side
    * expression build depth 2.
    */
  private def dels(t: String, d: Int = 1): Seq[String] = {
    def one(s: String): Seq[String] = {
      val cps = s.codePoints.toArray
      (s +: cps.indices.map { i =>
        val rest = cps.patch(i, Nil, 1)
        new String(rest, 0, rest.length)
      }).distinct
    }
    (1 until d).foldLeft(one(t))((acc, _) => acc.flatMap(one).distinct)
  }

  /** Dictionary-side up-to-`d`-deletion neighborhood as a codegen'd
    * expression (`substr`/`length` count codepoints, matching `dels`).
    * Depth 2 nests the depth-1 expression: ~len²/2 rows per vocabulary
    * term instead of ~len — the standard SymSpell space/latency trade,
    * paid once per (field, term-forms, d) thanks to the plan cache.
    */
  private def delNeighborhood(t: Column, d: Int = 1): Column = {
    def one(c: Column): Column =
      array_distinct(concat(array(c),
        transform(sequence(lit(0), length(c) - 1),
          i => concat(c.substr(lit(1), i), c.substr(i + lit(2), length(c))))))
    (1 until d).foldLeft(one(t))((acc, _) =>
      array_distinct(flatten(transform(acc, one(_)))))
  }

  /** Multi-term snippets — `highlights` over a query's full term set:
    * one row per (document, matched term), ±`window` tokens around that
    * term's first stored offset. The per-doc hits aggregate BEFORE the
    * content join, so each document's text is fetched and tokenized
    * once no matter how many terms hit it; the postings side stays
    * tiny (filtered to the term set) and the join is co-partitioned on
    * the document key — no corpus scan at any size.
    */
  def snippets(terms: Seq[String], window: Int = 3,
      tokenizer: Column => Column = graft.functions.TextFunctions.tokenize,
      auths: Seq[String] = Nil): DataFrame = {
    require(terms.nonEmpty, "snippets() needs at least one term")
    val keys = Seq("partition", "language", "docId")
    val hits = langAuth(auths)(index.termPostings).filter(col("term").isin(terms: _*))
      .select(keys.map(col) :+ struct(col("term"),
        col("offsets").getItem(0).as("pos")).as("hit"): _*)
      .groupBy(keys.map(col): _*).agg(collect_list(col("hit")).as("hits"))
    hits.join(index.documents, keys)
      .select(col("docId"), col("language"),
        tokenizer(unbase64(col("textB64")).cast("string")).as("tk"),
        explode(col("hits")).as("h"))
      .select(col("docId"), col("language"), col("h.term").as("term"),
        concat_ws(" ", slice(col("tk"),
          greatest(col("h.pos") - window + 1, lit(1)), lit(2 * window + 1)))
          .as("snippet"))
      .orderBy("docId", "term")
  }

  /** Phrase snippets — the display companion of `ws_phrase`'s adjacency
    * check, generalized to k-token phrases: documents where the phrase
    * occurs as ADJACENT tokens, with ±`window` tokens around the FIRST
    * occurrence of the whole phrase. Phrase start positions are the
    * intersection of each term's offsets shifted by its phrase index
    * (offsets of t_i minus i) — set algebra on the stored TermWeight
    * arrays; the text is never re-searched. Postings co-partition on
    * the document key; docs missing any phrase term drop out of the
    * inner joins before any content is touched.
    */
  def phraseSnippets(phrase: Seq[String], window: Int = 3,
      tokenizer: Column => Column = graft.functions.TextFunctions.tokenize,
      auths: Seq[String] = Nil): DataFrame = {
    require(phrase.size >= 2, "phraseSnippets() needs at least two tokens")
    val keys = Seq("partition", "language", "docId")
    phraseStarts(phrase, langAuth(auths))
      .select(keys.map(col) :+ array_min(col("starts")).as("pos"): _*)
      .join(index.documents, keys)
      .select(col("docId"), col("language"),
        concat_ws(" ", slice(
          tokenizer(unbase64(col("textB64")).cast("string")),
          greatest(col("pos") - window + 1, lit(1)),
          lit(2 * window + phrase.size)))
          .as("snippet"))
      .orderBy("docId")
  }

  /** Per-document phrase START positions (adjacent, in order), from set
    * algebra over the stored TermWeight offsets: each term's offsets
    * shifted by its phrase index, then intersected — the text is never
    * re-searched. Shared by `phraseSnippets` (display) and the
    * `f:phrase` plan leaf (selection), so the two cannot diverge.
    * Postings co-partition on the document key; docs missing any term
    * drop out of the inner joins before any content is touched.
    */
  private def phraseStarts(
      phrase: Seq[String], auth: DataFrame => DataFrame,
      field: String = "TEXT"): DataFrame = {
    val keys = Seq("partition", "language", "docId")
    val shifted = phrase.zipWithIndex.map { case (t, i) =>
      auth(postingsFor(field)).filter(col("term") === t)
        .select(keys.map(col) :+
          transform(col("offsets"), x => x - i).as(s"o$i"): _*)
    }
    val joined = shifted.reduce(_.join(_, keys))
    val starts = phrase.indices.map(i => col(s"o$i")).reduce(array_intersect)
    joined
      .select(keys.map(col) :+ starts.as("starts"): _*)
      .where(size(col("starts")) > 0)
  }

  /** The phrase document-key set (full key, for plan composition). */
  private def phraseDocKeys(
      phrase: Seq[String], auth: DataFrame => DataFrame,
      field: String = "TEXT"): DataFrame =
    phraseStarts(phrase, auth, field)
      .select(col("partition"), col("language"), col("docId"))

  /** NEAR/k proximity: documents where `a` and `b` occur within `k`
    * tokens of each other, either order — the classic proximity
    * operator between AND (any distance) and phrase (adjacent, in
    * order), answered ENTIRELY from the stored TermWeight offsets:
    * postings filtered to the two terms (tiny), co-partitioned join on
    * the document key, one codegen'd exists-exists over the two offset
    * arrays. The predicate uses only position DIFFERENCES, so it is
    * invariant to the offset base. No content fetch, no corpus scan;
    * per-doc cost is |oa|·|ob| on occurrence counts, bounded in
    * practice by tf.
    */
  def near(a: String, b: String, k: Int, auths: Seq[String] = Nil): DataFrame =
    near(Seq(a, b), k, auths)

  /** k-term window form: documents where ALL `terms` occur inside some
    * window of span ≤ `k` tokens (2-term case: |i−j| ≤ k, the classic
    * NEAR/k — identical semantics through the same code path).
    */
  def near(terms: Seq[String], k: Int, auths: Seq[String]): DataFrame =
    nearDocKeys(terms, k, langAuth(auths))
      .select(col("docId"), col("language"))
      .orderBy("docId")

  /** The NEAR document-key set (full key, for plan composition): shared
    * by the public `near` surface and the `f:near` query-language leaf,
    * so the two cannot diverge.
    *
    * n-way shape: postings filtered per term (tiny), co-partitioned
    * n-way join on the document key, one codegen'd predicate over the n
    * offset arrays. Window check: a qualifying window's MINIMUM position
    * belongs to some term's array, so
    * `∃m ∃p∈o_m: ∀i ∃q∈o_i: p ≤ q ≤ p+k` is exact — for i = m the
    * start itself witnesses, so the inner ∀ runs over all arrays
    * uniformly. Uses only position differences ⇒ invariant to the
    * offset base. Per-doc cost is Σ_m |o_m| · Σ_i |o_i| on occurrence
    * counts, bounded in practice by tf; no content fetch, no corpus
    * scan at any n.
    */
  private def nearDocKeys(
      terms: Seq[String], k: Int, auth: DataFrame => DataFrame,
      ordered: Boolean = false, field: String = "TEXT"): DataFrame = {
    require(k >= 0, s"k must be >= 0: $k")
    require(terms.size >= 2, s"near needs at least two terms: $terms")
    val keys = Seq("partition", "language", "docId")
    val posts = terms.zipWithIndex.map { case (t, i) =>
      auth(postingsFor(field)).filter(col("term") === t)
        .select(keys.map(col) :+ col("offsets").as(s"o$i"): _*)
    }
    val joined = posts.reduce(_.join(_, keys))
    val os = terms.indices.map(i => col(s"o$i"))
    val predicate =
      if (ordered) {
        // chained strictly-increasing positions in term order, total
        // span ≤ k: ∃p1∈o1 ∃p2∈o2 … p1 < p2 < … ≤ p1+k. The chain
        // nests right-to-left so each level closes over its
        // predecessor and the window start.
        def chain(i: Int, prev: Column, start: Column): Column =
          if (i == os.size) lit(true)
          else exists(os(i), q => q > prev && q <= start + k && chain(i + 1, q, start))
        exists(os.head, p => chain(1, p, p))
      } else
        // unordered window: a qualifying window's minimum position
        // belongs to some term's array (see scaladoc above)
        os.map(om =>
          exists(om, p => os.map(oi =>
            exists(oi, q => q >= p && q <= p + k)).reduce(_ && _)))
          .reduce(_ || _)
    joined.filter(predicate).select(keys.map(col): _*)
  }

  /** Facet counts over a query's result set — the results-sidebar
    * aggregation (beyond the reference). One value row per (language,
    * field value) with its hit count; documents missing the field count
    * under a NULL value so facet totals reconcile with the hit count.
    */
  def facets(query: String, field: String, auths: Seq[String] = Nil): DataFrame =
    run(query, auths)
      .select(col("language"),
        explode_outer(element_at(col("fields"), field)).as("value"))
      .groupBy("language", "value").agg(count(lit(1)).as("n"))
      .orderBy("language", "value")

  /** Field collapsing over a query's hit set — one representative document
    * per distinct field value plus the collapsed group size (the standard
    * results-deduplication serving surface: "group by source/domain, show
    * one hit each"). Representative = smallest numeric docId in the group
    * (deterministic; compose with `rank` upstream for a score-ordered
    * pick). One narrow projection + an argmin groupBy over the hit set —
    * map-side combined, no window, no per-group sort.
    */
  def collapse(query: String, field: String, auths: Seq[String] = Nil): DataFrame =
    run(query, auths)
      .select(explode_outer(element_at(col("fields"), field)).as("value"),
        col("docId").cast("bigint").as("id"))
      .groupBy("value")
      .agg(count(lit(1)).as("n"), min(col("id")).as("top_doc"))
      .orderBy(col("n").desc, col("value"))

  /** Index catalog statistics per language — the ANALYZE surface an
    * operator runs after a build or compaction to validate stored index
    * contents: documents with at least one posting, vocabulary size,
    * posting rows, and total token occurrences (sum of stored offset
    * lengths — so a green oracle proves the stored offsets are
    * COMPLETE, not just positionally correct). Auth-gated like every
    * content-derived surface.
    *
    * Scale posture: one pass over the postings store, partial-aggregable
    * counts keyed on the bounded language domain; the two distinct
    * counts are the honest batch-ANALYZE cost — swap in
    * `Sketches.KmvDistinctAggregator` where an estimate suffices (the
    * bounded-state variant of exactly these counters).
    */
  def indexStats(auths: Seq[String] = Nil): DataFrame =
    langAuth(auths)(index.termPostings)
      .groupBy("language")
      .agg(countDistinct(col("docId")).as("n_docs"),
        countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(size(col("offsets"))).cast("bigint").as("n_tokens"))
      .orderBy("language")

  /** Numeric-field histogram over a query's hit set — the range-facet
    * sidebar (`facets`' numeric companion): bucket b counts hits whose
    * field value v satisfies lo + b·width ≤ v < lo + (b+1)·width, for
    * b in [0, buckets); values outside [lo, lo + buckets·width) (or
    * unparsable) are excluded. With integer lo/width the bucket
    * arithmetic `floor((v − lo)/width)` is exact in doubles (exact
    * inputs; a quotient on a bucket boundary is exactly representable),
    * so any oracle re-derives the histogram bit-identically. One narrow
    * projection over the hit set + a ≤`buckets`-row aggregation.
    */
  def histogram(query: String, field: String, lo: Long, width: Long,
      buckets: Int, auths: Seq[String] = Nil): DataFrame = {
    require(width > 0, s"width must be > 0: $width")
    require(buckets > 0, s"buckets must be > 0: $buckets")
    run(query, auths)
      .select(explode(element_at(col("fields"), field)).as("v"))
      .select(col("v").try_cast("double").as("v"))
      .filter(col("v").isNotNull &&
        col("v") >= lit(lo) && col("v") < lit(lo + width * buckets.toLong))
      .select(floor((col("v") - lit(lo)) / lit(width)).cast("bigint").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Whether the query would take the index-assisted path (vs full
    * scan) — a planning probe for tests/diagnostics; runs no jobs beyond
    * bare-term rewrites.
    */
  private[query] def indexAnswerable(query: String): Boolean =
    new Planned(validated(query), Nil).tree.isDefined

  /** Human-readable access-path report: the engine-level EXPLAIN (the
    * reference surfaces this through RangeCalculator debug logging; at
    * 100 TB you want it BEFORE running a query). Shows the planned
    * tree with per-leaf cardinalities and lossy-fallback shards, plus
    * the materialization decision (driver-local broadcast vs
    * distributed, and the static shard footprint the event scan will
    * prune to). Runs the same single plan-time index job as `run`
    * (served from the term cache when warm) but executes nothing. A
    * query that fails validation reports `REJECTED: <reason>`.
    */
  def explainAccess(query: String, auths: Seq[String] = Nil): String = {
    val ast =
      try validated(query)
      catch { case e: IllegalArgumentException => return s"REJECTED: ${e.getMessage}" }
    // scanCards: the report shows range/wildcard cardinalities even
    // when no AND decision needs them
    val p = new Planned(ast, auths, scanCards = true)
    p.tree.zip(p.cand) match {
      case None =>
        "FULL SCAN: no index-answerable subtree; the residual predicate evaluates every event"
      case Some((tree, cand)) =>
        val stats = p.stats
        val sb = new StringBuilder("INDEX PATH\n")
        def render(n: PlanNode, indent: String): Unit = n match {
          case EqLeaf(tag, field, forms) =>
            val st    = stats.get(tag)
            val rows  = st.map(_.rows).getOrElse(Nil)
            val lossy = rows.count(_.ignore)
            sb.append(s"${indent}EQ $field IN {${forms.mkString(", ")}}")
              .append(s" card=${st.map(_.card).getOrElse(0L)}")
              .append(s" exactUids=${rows.filterNot(_.ignore).map(_.uids.size).sum}")
              .append(if (lossy > 0) s" lossyShardRows=$lossy" else "").append('\n')
          case ScanLeaf(tag, _, fi) =>
            sb.append(s"${indent}RANGE/WILDCARD index scan card=${stats.get(tag).map(_.card).getOrElse(0L)}")
              .append(if (fi.isDefined) " (fi-verified)" else "").append('\n')
          case NearLeaf(_, fld, ts, k, ordered) =>
            sb.append(s"${indent}${if (ordered) "ONEAR" else "NEAR"}" +
              s"($fld: ${ts.mkString(" ")}, k=$k) — stored-offset " +
              "postings join (exact, index-enforced)\n")
          case PhraseLeaf(_, fld, ts) =>
            sb.append(s"${indent}PHRASE($fld: ${ts.mkString(" ")}) — stored-offset " +
              "adjacency join (exact, index-enforced)\n")
          case EmptyLeaf => sb.append(s"${indent}EMPTY (term absent from index)\n")
          case OrNode(cs) =>
            sb.append(s"${indent}OR\n"); cs.foreach(render(_, indent + "  "))
          case AndNode(ps, negs) =>
            sb.append(s"${indent}AND\n")
            ps.foreach(render(_, indent + "  "))
            negs.foreach(g => sb.append(
              s"$indent  NOT ${g.field} IN {${g.forms.mkString(", ")}} (anti-join on exact postings)\n"))
        }
        render(tree, "  ")
        val mat = cand match {
          case LocalCand(docs, Nil, card) =>
            s"candidates: DRIVER-LOCAL ${docs.size} docs (IN predicate on the event scan); est card=$card"
          case LocalCand(docs, shards, card) =>
            s"candidates: DRIVER-LOCAL ${docs.size} docs + ${shards.size} lossy shards " +
              s"(one IN predicate on the event scan; residual re-verifies); est card=$card"
          case DistCand(_, card, parts) =>
            val cardStr = // NearLeaf's sentinel must not print as an estimate
              if (card == Long.MaxValue) "unknown (proximity join)" else card.toString
            s"candidates: DISTRIBUTED; est card=$cardStr; " +
              s"static shard footprint=${parts.map(_.sorted.mkString("{", ",", "}")).getOrElse("unbounded")}"
        }
        sb.append(mat).append('\n').toString
    }
  }

  // ---- planning -----------------------------------------------------------

  /** Step 1 of the ONE planning front end behind every query entry point
    * (the reference's `AbstractQueryLogic.runQuery` lifecycle): parse →
    * all-negation rule → near/phrase placement → rewrite. An
    * IllegalArgumentException from here is a validation failure, which
    * `explainAccess` reports as its `REJECTED` body.
    */
  private def validated(query: String): QExpr = {
    val ast = QueryParser.parse(query)
    if (QExpr.allNegated(ast))
      throw new IllegalArgumentException(
        s"all-negation queries are invalid (FieldIndexQueryReWriter.removeNegationViolations): $query")
    validateNearPlacement(ast, conjunctive = true)
    rewriteQuery(ast)
  }

  /** Step 2: the planned query `run`, `countDocs`/`fastCount`,
    * `explainAccess` and `indexAnswerable` consume — the rewritten
    * expression, its plan tree (None = full scan) and, forced only by
    * the consumers that need them, the leaf stats of the ONE plan-time
    * index job (the reference likewise reads the global index once at
    * plan time, `RangeCalculator.queryGlobalIndex`) and the
    * materialized candidates. `scanCards` collects range/wildcard
    * cardinalities even where no AND decision needs them.
    */
  private final class Planned(val ast: QExpr, val auths: Seq[String],
      scanCards: Boolean = false) {
    val tree: Option[PlanNode] = analyze(ast, new Analysis)
    lazy val stats: Map[Int, LeafStats] =
      tree.fold(Map.empty[Int, LeafStats])(t => collectLeafStats(t, scanCards || needCards(t)))
    lazy val cand: Option[MCand] =
      tree.map(tree => materialize(tree, stats, langAuth(auths), auths))
  }

  /** Unfielded bare terms → OR over the fields where the global index
    * knows the value (`AbstractQueryLogic.java:601-633`,
    * `QueryLogic.getTermIndexInformation:111-193`). The lookup is a
    * pruned index scan collecting only distinct field names (bounded by
    * schema size, not data size).
    */
  private def rewriteBareTerms(e: QExpr): QExpr = e match {
    case BareTerm(v) =>
      // The term's field is unknown, so probe every normalized form a
      // field might have stored ('Ábaco' → both 'ábaco' and 'abaco').
      val forms = Seq(v.toLowerCase, TextFunctions.lcNoDiacritics(v)).distinct
      val fields = index.globalIndex
        .filter(col("fieldValue").isin(forms: _*))
        .select("fieldName").distinct().collect().map(_.getString(0))
      fields.toSeq match {
        case Seq()  => Term(NoField, Op.EQ, v)
        case Seq(f) => Term(f, Op.EQ, v)
        case fs     => Or(fs.map(f => Term(f, Op.EQ, v)))
      }
    case And(cs) => And(cs.map(rewriteBareTerms))
    case Or(cs)  => Or(cs.map(rewriteBareTerms))
    case Not(c)  => Not(rewriteBareTerms(c))
    case other   => other
  }

  /** The full pre-planning rewrite chain: bare terms fielded first (so
    * a bare synonym-bearing term expands too), then synonym expansion.
    * Called only from `validated`, the one planning front end behind
    * every query entry point, so the plan and the residual always
    * compile the same rewritten expression.
    */
  private def rewriteQuery(e: QExpr): QExpr =
    rewriteSynonyms(rewriteBareTerms(e))

  /** Synonym expansion (see `EngineConfig.synonyms`). EQ → OR over the
    * equivalence set; NE → AND of exclusions (so `!= v` and `not(== v)`
    * stay semantically identical after expansion). Lookup key is the
    * field-normalized literal; the expanded terms re-normalize through
    * the ordinary literal path downstream.
    */
  private def rewriteSynonyms(e: QExpr): QExpr =
    if (config.synonyms.isEmpty) e
    else e match {
      case t @ Term(f, Op.EQ, v) if config.synonymFields.contains(f) =>
        config.synonyms.get(normalizeLit(f, v)) match {
          case Some(alts) if alts.nonEmpty =>
            Or(t +: alts.map(a => Term(f, Op.EQ, a)))
          case _ => t
        }
      case t @ Term(f, Op.NE, v) if config.synonymFields.contains(f) =>
        config.synonyms.get(normalizeLit(f, v)) match {
          case Some(alts) if alts.nonEmpty =>
            And(t +: alts.map(a => Term(f, Op.NE, a)))
          case _ => t
        }
      case And(cs) =>
        // re-flatten: the parser normalizes nested AND/OR away, and the
        // planner depends on that shape — an NE expansion must splice
        // its exclusion conjuncts DIRECTLY into the enclosing And, or
        // analyze() would neither anti-join them (negatives come from
        // direct Term children) nor index-answer the all-negative
        // wrapper (silently dropping the exclusion from the plan)
        And(cs.map(rewriteSynonyms).flatMap {
          case And(gs) => gs
          case o       => Seq(o)
        })
      case Or(cs) =>
        Or(cs.map(rewriteSynonyms).flatMap {
          case Or(gs) => gs
          case o      => Seq(o)
        })
      case Not(c)  => Not(rewriteSynonyms(c))
      case other   => other
    }

  // ---- phase A: analyze the AST into a symbolic plan tree ----------------
  //
  // Leaves don't run jobs; they register what the batched plan-time index
  // pass (phase B) must resolve. EQ terms resolve to driver-local posting
  // rows (bounded: one index row per (term, partition, language), uids
  // lossy-capped at UidList MAX — the exact bound the reference relies on
  // when `RangeCalculator.queryGlobalIndex` collects ranges on the
  // client). Prefix/suffix/range leaves stay distributed (they can match
  // unboundedly many terms) and only their Σcount is collected.

  private sealed trait PlanNode
  private case class EqLeaf(tag: Int, field: String, forms: Seq[String]) extends PlanNode
  /** `f:near(TEXT, a, b, k)` / `f:near(TEXT, k, t1..tn)` — a proximity
    * leaf answered from stored TermWeight offsets (the `near()` plan,
    * J-series composition): all `terms` occur inside some window of
    * span ≤ k tokens. The residual CANNOT re-verify it (the pivoted
    * event view holds distinct terms, not positions), so this leaf is
    * index-ENFORCED: it always participates in the AND intersection and
    * is rejected under OR/NOT (`validateNearPlacement`).
    */
  private case class NearLeaf(
      tag: Int, field: String, terms: Seq[String], k: Int, ordered: Boolean) extends PlanNode
  /** `f:phrase(TEXT, 'a b ...')` — ordered adjacency from the same
    * stored offsets (the `phraseStarts` set algebra). Index-ENFORCED
    * like NearLeaf, for the same reason: the pivoted event view holds
    * distinct terms, not positions, so no residual can re-verify order.
    */
  private case class PhraseLeaf(tag: Int, field: String, terms: Seq[String]) extends PlanNode
  /** Distributed index-scan leaf (prefix/suffix/range — can match
    * unboundedly many terms). `fiVerify` carries the exact fi-analogue
    * lookup of the SAME predicate when the field is unevaluated, so
    * lossy (ignore) rows verify exactly instead of leaking whole shards.
    */
  private case class ScanLeaf(tag: Int, ix: DataFrame, fiVerify: Option[DataFrame])
      extends PlanNode
  private case object EmptyLeaf extends PlanNode
  private case class OrNode(children: Seq[PlanNode]) extends PlanNode
  private case class AndNode(positives: Seq[PlanNode], negatives: Seq[EqLeaf]) extends PlanNode

  /** Leaf-tag source for one analysis: tags key the plan-time stats. */
  private final class Analysis {
    private var nextTag = 0
    def tag(): Int = { nextTag += 1; nextTag - 1 }
  }

  /** Symbolic plan for the expression, or None when it is not
    * index-answerable and the caller must fall back to a scan
    * (access-path rule, SURVEY.md §4.1 row 1).
    */
  private def analyze(e: QExpr, an: Analysis): Option[PlanNode] = e match {
    case t: Term if !Op.isNegative(t.op) => termNode(t, an)
    case _: Term                         => None // negations never drive the index
    case f: FnTerm if isNearFn(f)        => Some(nearNode(f, an))
    case f: FnTerm if isPhraseFn(f)      => Some(phraseNode(f, an))
    case f: FnTerm if isFuzzyFn(f)       => fuzzyNode(f, an)
    case _: FnTerm                       => None
    case _: FnCmp                        => None // function results aren't indexed
    case _: BareTerm                     => None // rewritten earlier; unknown value
    case Not(_)                          => None
    case Or(cs) =>
      // OR is index-answerable only if EVERY branch is (else a matching
      // doc could be missed) — union + dedup (OrIterator, J2).
      val ns = cs.map(analyze(_, an))
      if (ns.forall(_.isDefined)) Some(OrNode(ns.flatten)) else None
    case And(cs) =>
      // AND: the reference keeps only the smaller-cardinality branch's
      // ranges (a superset of the intersection) and lets downstream
      // verification restore exactness (`RangeCalculator.java:825-834`).
      // We do the same when the residual filter re-evaluates everything
      // (our default); with unevaluated fields configured the residual
      // can't be trusted for them, so we intersect all branches
      // (AndIterator leapfrog ≡ chained semi-joins, J1). Exact negated
      // postings prune via anti-join either way (J4).
      val (rangeBounds, rest) = partitionRangeTerms(cs)
      val fused               = rangeBounds.flatMap { case (f, b) => rangeNode(f, b, an) }
      val positives           = rest.collect {
        case t: Term if !Op.isNegative(t.op)           => analyze(t, an)
        case f: FnTerm if isNearFn(f) || isPhraseFn(f) || isFuzzyFn(f) => analyze(f, an)
        case o: Or                                     => analyze(o, an)
        case a: And                                    => analyze(a, an)
      }.flatten
      val negatives = rest.collect {
        case t: Term if t.op == Op.NE && indexedFields.contains(t.field) =>
          EqLeaf(an.tag(), t.field, probeForms(t.field, t.literal))
      }
      val all = fused ++ positives
      if (all.isEmpty) None else Some(AndNode(all, negatives))
  }

  private def isNearFn(f: FnTerm): Boolean = f.name == "near" || f.name == "onear"
  private def isPhraseFn(f: FnTerm): Boolean = f.name == "phrase"
  private def isFuzzyFn(f: FnTerm): Boolean = f.name == "fuzzy"

  /** `f:fuzzy(FIELD, term)` → the term's Lev≤1 vocabulary neighborhood
    * as a multi-form EQ leaf. Unlike f:near this leaf is an access-path
    * OPTIMIZATION, not an obligation: the residual re-verifies with the
    * exact `levenshtein` predicate (Compiler's f:fuzzy case), so a None
    * here (unindexed field, over-generic term) just falls back to the
    * scan path, and OR/NOT placements need no special handling.
    *
    * Soundness of the expansion as a candidate superset: every indexed
    * value v has each normalizer form fn(v) in this field's vocabulary,
    * and the residual compares the SAME normalized forms — so any doc
    * the residual accepts has a vocabulary term within distance 1 of
    * one of the literal's `probeForms`, which the SymSpell join (a
    * COMPLETE Lev≤1 candidate generator, see `fuzzyTerms`) finds. An
    * empty expansion is therefore proof of emptiness (EmptyLeaf). The
    * plan-time collect is capped at `config.fuzzyExpandMax`+1 rows.
    */
  private def fuzzyNode(f: FnTerm, an: Analysis): Option[PlanNode] = {
    require(f.args.size == 2 || f.args.size == 3,
      s"f:fuzzy takes (field, term[, maxDist]): f:fuzzy(${f.args.mkString(", ")})")
    val field = f.args.head.toUpperCase
    require(f.args(1).nonEmpty, "f:fuzzy needs a non-empty term")
    val d = fuzzyDist(f)
    if (!indexedFields.contains(field)) return None
    val qforms = probeForms(field, f.args(1))
    val matched = fuzzyCache.getOrElseUpdate((field, qforms, d)) {
      fuzzyVocabRuns.incrementAndGet()
      val qvars = spark.createDataFrame(
        qforms.flatMap(q => dels(q, d).map((_, q))).distinct).toDF("del", "q")
      index.globalIndex
        .filter(col("fieldName") === field && length(col("fieldValue")) > 0)
        .select(col("fieldValue").as("term")).distinct()
        .withColumn("del", explode(delNeighborhood(col("term"), d)))
        .join(broadcast(qvars), Seq("del"))
        .filter(levenshtein(col("term"), col("q"), d) >= 0)
        .select("term").distinct()
        .limit(config.fuzzyExpandMax + 1)
        .collect().map(_.getString(0)).toSeq
    }
    if (matched.size > config.fuzzyExpandMax) None
    else if (matched.isEmpty) Some(EmptyLeaf)
    else Some(EqLeaf(an.tag(), field, matched))
  }

  /** The optional maxDist arg of `f:fuzzy` (default 1; 2 = SymSpell
    * 2-deletion neighborhoods on both sides). Shared by the planner and
    * the residual compiler via `Compiler.fuzzyDistOf` so the expansion
    * and the verify predicate cannot disagree on the distance.
    */
  private def fuzzyDist(f: FnTerm): Int = Compiler.fuzzyDistOf(f)

  /** Opaque-regex acceleration (pg_trgm / Google-Code-Search posture):
    * extract the literal runs a full-string match provably requires
    * (`requiredGrams` — conservative: any construct it cannot model
    * bails), probe the trigram index for vocabulary values containing
    * ALL required trigrams, verify each candidate value with the EXACT
    * residual semantics (`jexlMatchesStr` = full-string DOTALL), and
    * plan the survivors as a multi-form EQ leaf.
    *
    * Like `fuzzyNode` this is sound as an exact rewrite, not just a
    * superset: a doc the residual accepts has a value whose indexed
    * form matches the regex; that form is in the vocabulary, contains
    * every required trigram (a literal run of a matched pattern is a
    * substring of the value), so the probe finds it and the driver
    * verify keeps it. Empty expansion is therefore proof of emptiness;
    * over-cap expansion falls back to the reference's scan behavior.
    * The probe is a gram IN-list on the gram-sorted trigram parquet
    * (pushed filters), grouped by value — vocabulary-proportional, never
    * corpus-proportional; the collect is capped at regexExpandMax+1.
    */
  private def trigramNode(field: String, regex: String, an: Analysis): Option[PlanNode] = {
    val grams = WikiSearchEngine.requiredGrams(regex).getOrElse(return None)
    val matched = trigramCache.getOrElseUpdate((field, regex)) {
      trigramProbeRuns.incrementAndGet()
      val cand = index.trigramIndex
        .filter(col("fieldName") === field && col("gram").isin(grams: _*))
        .groupBy("fieldValue")
        .agg(count_distinct(col("gram")).as("ng"))
        .filter(col("ng") === grams.size)
        .select("fieldValue")
        .limit(config.regexExpandMax + 1)
        .collect().map(_.getString(0)).toSeq
      if (cand.size > config.regexExpandMax) cand // over cap: keep the marker size
      else cand.filter(TextFunctions.jexlMatchesStr(_, regex))
    }
    if (matched.size > config.regexExpandMax) None
    else if (matched.isEmpty) Some(EmptyLeaf)
    else Some(EqLeaf(an.tag(), field, matched))
  }

  /** Driver-side LRU of (field, regex) → verified vocabulary expansion —
    * the `fuzzyCache` analogue for the trigram access path; hot opaque
    * regexes plan with zero Spark jobs.
    */
  private val trigramCache = new graft.Lru[(String, String), Seq[String]](1024)

  /** Count of cold trigram probe jobs actually run (cache-miss metric). */
  private[query] val trigramProbeRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Driver-side LRU of (field, probe forms, maxDist) → fuzzy
    * vocabulary expansion, so a HOT fuzzy query plans with zero Spark
    * jobs (the termCache analogue for the one other plan-time job).
    * Entries are ≤ fuzzyExpandMax+1 terms; safe to share — one
    * immutable snapshot.
    */
  private val fuzzyCache = new graft.Lru[(String, Seq[String], Int), Seq[String]](1024)

  /** Count of cold fuzzy vocabulary jobs actually run — a cache-miss
    * metric for serving dashboards (and the spec's observability hook).
    */
  private[query] val fuzzyVocabRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `f:near(FIELD, …)` → proximity plan leaf, for any field with
    * stored positional offsets: TEXT always (the reference stores
    * TermWeight offsets for article text only,
    * `WikipediaMapper.java:243-260`), plus any field the build declared
    * via `offsetsFields` (beyond-reference; metadata kind "p").
    */
  /** `f:near` / `f:onear` argument forms — all become the same window
    * leaf (onear sets the ordered flag):
    *   - k-term: `f:near(TEXT, k, t1, ..., tn)` (n ≥ 2) — all terms in
    *     some window of span ≤ k; detected by the SECOND arg parsing as
    *     an integer. `f:onear(TEXT, k, t1..tn)` additionally requires
    *     the occurrence positions strictly increasing in argument
    *     order (the Lucene SpanNear-in-order shape); onear accepts
    *     ONLY this form.
    *   - legacy pair: `f:near(TEXT, a, b, k)` — |pos(a)−pos(b)| ≤ k,
    *     i.e. the 2-term window. Kept for the original surface; if `a`
    *     itself is numeric the call parses as the k-term form instead
    *     (searching FOR numeric tokens by proximity requires the k-first
    *     form, where term positions are unambiguous).
    */
  private def nearNode(f: FnTerm, an: Analysis): PlanNode = {
    val fn = s"f:${f.name}"
    def toK(s: String): Int = {
      val k =
        try s.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$fn distance must be an integer: '$s'") }
      require(k >= 0, s"$fn distance must be >= 0: $k")
      k
    }
    val ordered = f.name == "onear"
    require(f.args.size >= 3,
      s"$fn takes (field, k, term...)" +
        (if (ordered) "" else " or (field, term, term, k)") +
        s": $fn(${f.args.mkString(", ")})")
    val field0 = f.args.head.toUpperCase
    if (!positionalFields.contains(field0))
      throw new IllegalArgumentException(
        s"$fn is answered from stored positional offsets; field '${f.args.head}' has none " +
          "(declare it via IndexBuilder offsetsFields at build time)")
    val (k, terms) =
      if (f.args(1).forall(c => c.isDigit || c == '-') && f.args(1).nonEmpty)
        (toK(f.args(1)), f.args.drop(2))
      else {
        require(!ordered && f.args.size == 4,
          s"$fn takes (field, k, term...): $fn(${f.args.mkString(", ")})")
        (toK(f.args.last), f.args.slice(1, 3))
      }
    require(terms.size >= 2, s"$fn needs at least two terms: $fn(${f.args.mkString(", ")})")
    // literals normalize like TEXT literals — positional tokens are the
    // TEXT tokenizer's output for every declared field (see phraseNode)
    NearLeaf(an.tag(), field0, terms.map(normalizeLit("TEXT", _)), k, ordered)
  }

  /** `f:phrase(TEXT, 'a b ...')` → ordered-adjacency plan leaf. The
    * phrase splits on whitespace and each token normalizes like a TEXT
    * equality literal (same index, same normalizer); only TEXT is
    * accepted, as for f:near — it is the one field with stored offsets.
    */
  private def phraseNode(f: FnTerm, an: Analysis): PlanNode = {
    require(f.args.size == 2,
      s"f:phrase takes (field, phrase): f:phrase(${f.args.mkString(", ")})")
    val Seq(rawField, phrase) = f.args
    val field0 = rawField.toUpperCase
    if (!positionalFields.contains(field0))
      throw new IllegalArgumentException(
        s"f:phrase is answered from stored positional offsets; field '$rawField' has none " +
          "(declare it via IndexBuilder offsetsFields at build time)")
    // positional tokens are ALWAYS the TEXT tokenizer's output
    // (IndexBuilder tokenizes declared offsets fields with the same
    // tokenizer as TEXT), so positional literals normalize exactly like
    // TEXT literals regardless of the field's own index normalizer — a
    // NoOp-indexed field's raw-cased literal would never match the
    // lowercased token stream.
    val terms = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      .map(normalizeLit("TEXT", _))
    require(terms.size >= 2,
      s"f:phrase needs at least two tokens (use $field0 == '...' for one): '$phrase'")
    PhraseLeaf(an.tag(), field0, terms)
  }

  /** f:near and f:phrase are index-ENFORCED (their residuals compile to
    * TRUE because the event view has no positions), which is only sound
    * where the plan intersection applies them unconditionally: positive
    * conjunctive position. Under OR a lossy sibling's shard fallback
    * would leak through the TRUE residual; under NOT there is no
    * enforcement at all — both are rejected loudly rather than answered
    * wrongly.
    */
  private def validateNearPlacement(e: QExpr, conjunctive: Boolean): Unit = e match {
    case f: FnTerm if isNearFn(f) || isPhraseFn(f) =>
      if (!conjunctive) throw new IllegalArgumentException(
        s"f:${f.name} composes conjunctively only (top level or under AND); " +
          "OR/NOT placement cannot be residual-verified")
    case FnCmp(f, _, _) if isNearFn(f) || isPhraseFn(f) =>
      throw new IllegalArgumentException(
        s"f:${f.name} selects documents; comparing its result to a literal is unsupported")
    case And(cs) => cs.foreach(validateNearPlacement(_, conjunctive))
    case Or(cs)  => cs.foreach(validateNearPlacement(_, conjunctive = false))
    case Not(c)  => validateNearPlacement(c, conjunctive = false)
    case _       => ()
  }

  private def termNode(t: Term, an: Analysis): Option[PlanNode] = {
    if (t.field == NoField) {
      // bare term not found anywhere in the index: provably empty
      return Some(EmptyLeaf)
    }
    if (!indexedFields.contains(t.field)) return None
    val norm = normalizeLit(t.field, t.literal)
    t.op match {
      case Op.EQ => Some(EqLeaf(an.tag(), t.field, probeForms(t.field, t.literal)))
      case Op.RE =>
        // In unevaluated mode the residual may constant-fold a SIBLING
        // branch to TRUE (an OR over an unevaluated term), so a lossy
        // whole-shard fallback on ANY field could leak unfiltered docs —
        // verify exactly whenever any field is unevaluated, not just
        // when this one is.
        def fi(pred: Column => Column): Option[DataFrame] =
          if (config.unevaluatedFields.nonEmpty)
            Some(exactFieldPred(t.field, pred))
          else None
        classifyRegex(norm) match {
          case Prefix(p) => // trailing wildcard → forward index prefix range
            Some(ScanLeaf(an.tag(),
              index.globalIndex
                .filter(col("fieldName") === t.field && col("fieldValue").startsWith(p)),
              fi(_.startsWith(p))))
          case Suffix(s) => // leading wildcard → reverse index prefix range
            Some(ScanLeaf(an.tag(),
              index.reverseIndex
                .filter(col("fieldName") === t.field &&
                  col("fieldValue").startsWith(s.reverse)),
              fi(_.endsWith(s))))
          case Opaque =>
            // Mid-string wildcard: the reference is filter-only here
            // (RangeCalculator.java:357-420). Beyond-reference: when the
            // regex provably requires ≥3-char literal runs, a trigram
            // probe of the vocabulary turns the infix query into an
            // exact multi-form EQ leaf; otherwise fall back to the
            // reference's full-scan residual behavior.
            trigramNode(t.field, norm, an)
        }
      case _ => None // single-sided ranges handled (fused) at the AND level
    }
  }

  /** All GE/GT and LE/LT bounds collected per field under an AND. */
  private case class Bounds(los: Seq[(String, Boolean)], his: Seq[(String, Boolean)])

  /** Fuse GE/GT+LE/LT bounds on the same field under an AND into bounded
    * index ranges (J7, `RangeCalculator.java:449-499`); fields with only
    * one side bounded are not indexable (`RangeCalculator.java:495-498`).
    * ALL bounds are kept and applied conjunctively — the reference keeps
    * every bound in the rewritten index query too
    * (`BooleanLogicIterator.refactorTree:963-1106`); dropping extras
    * would be unsound under `unevaluatedFields` (the residual compiles
    * those terms to TRUE, so the index filter is the only enforcement).
    */
  private def partitionRangeTerms(cs: Seq[QExpr]): (Seq[(String, Bounds)], Seq[QExpr]) = {
    val (ranges, rest) = cs.partition {
      case Term(_, op, _) => Op.isRange(op)
      case _              => false
    }
    val byField = ranges.collect { case t: Term => t }.groupBy(_.field)
    val fused = byField.toSeq.sortBy(_._1).flatMap { case (f, ts) =>
      val los = ts.collect { case t if t.op == Op.GT || t.op == Op.GE => (t.literal, t.op == Op.GT) }
      val his = ts.collect { case t if t.op == Op.LT || t.op == Op.LE => (t.literal, t.op == Op.LT) }
      if (los.nonEmpty && his.nonEmpty) Some(f -> Bounds(los, his)) else None
    }
    // Fused fields' terms are consumed; single-sided ones stay for residual
    val fusedFields = fused.map(_._1).toSet
    val leftover    = ranges.collect { case t: Term if !fusedFields.contains(t.field) => t }
    (fused, rest ++ leftover)
  }

  private def rangeNode(field: String, b: Bounds, an: Analysis): Option[ScanLeaf] = {
    if (!indexedFields.contains(field)) return None
    // Each bound compares in its own domain — numeric literals compare
    // numerically (matching the residual's try_cast semantics), string
    // literals lexicographically on the normalized value. Parameterized
    // over the value column so the same bounds apply to the index scan
    // and (when the field is unevaluated) the exact fi verification.
    def boundsPred(v: Column): Column = {
      def cond(raw: String, cmpNum: (Column, Column) => Column,
          cmpStr: (Column, Column) => Column): Column = {
        val n = normalizeLit(field, raw)
        if (Compiler.isNumeric(n)) cmpNum(v.try_cast("double"), lit(n.toDouble))
        else cmpStr(v, lit(n))
      }
      val conds =
        b.los.map { case (l, strict) =>
          if (strict) cond(l, _ > _, _ > _) else cond(l, _ >= _, _ >= _)
        } ++ b.his.map { case (h, strict) =>
          if (strict) cond(h, _ < _, _ < _) else cond(h, _ <= _, _ <= _)
        }
      conds.reduce(_ && _)
    }
    // Bounds compare NORMALIZED values, but a multi-normalizer field
    // also stores raw-form rows (IndexBuilder.rawTitleRows) that can
    // satisfy the lexicographic bounds while their normalized form does
    // not (raw 'café' ∈ ['cafz','cb'] though normalized 'cafe' is below
    // the low bound) — and exact rows bypass fiVerify (it only replaces
    // lossy shard fallbacks). Restrict the scan to canonical rows: the
    // normalized row always exists by construction, so no matching doc
    // is lost. Identity-normalized fields (TIMESTAMP, ID) store only
    // raw rows, which ARE canonical for them — no restriction there.
    val canonical =
      if (residualNorms.contains(field))
        col("fieldValue") === call_function("graft_normalize", col("fieldValue"))
      else lit(true)
    val ix = index.globalIndex
      .filter(col("fieldName") === field && canonical && boundsPred(col("fieldValue")))
    val fiVerify = // see termNode: ANY unevaluated field forces exactness
      if (config.unevaluatedFields.nonEmpty) Some(exactFieldPred(field, boundsPred))
      else None
    Some(ScanLeaf(an.tag(), ix, fiVerify))
  }

  /** True iff some AND node will need per-branch cardinalities to pick
    * its min-cardinality base (only the default config does; with
    * unevaluated fields every branch is intersected instead).
    */
  private def needCards(n: PlanNode): Boolean =
    config.unevaluatedFields.isEmpty && {
      def go(n: PlanNode): Boolean = n match {
        case AndNode(ps, _) => ps.size > 1 || ps.exists(go)
        case OrNode(cs)     => cs.exists(go)
        case _              => false
      }
      go(n)
    }

  // ---- phase B: ONE batched plan-time index job ---------------------------

  /** One collected index row for an EQ leaf (bounded by the lossy UidList
    * contract: ≤ one row per (term, partition, language), ≤ MAX uids).
    */
  private case class IndexRow(
      partition: Int, language: String, count: Long, ignore: Boolean, uids: Seq[String])
  private case class LeafStats(rows: Seq[IndexRow], card: Long)

  /** Driver-side LRU of term → postings (including negative entries for
    * terms absent from the index). Safe to share across concurrent
    * queries: the engine serves one immutable index snapshot.
    */
  private val termCache = new graft.Lru[(String, Seq[String]), Seq[IndexRow]](config.termCacheSize)

  /** Leaves actually reachable from the plan tree. Subtrees analyze()
    * rejected (e.g. an OR branch with an unanswerable sibling) still
    * consumed tags, but no reachable node carries them, so they add no
    * dead pruned scans to the plan-time job.
    */
  private def treeLeaves(n: PlanNode): Seq[PlanNode] = n match {
    case l: EqLeaf         => Seq(l)
    case l: ScanLeaf       => Seq(l)
    case l: NearLeaf       => Seq(l)
    case l: PhraseLeaf     => Seq(l)
    case EmptyLeaf         => Nil
    case OrNode(cs)        => cs.flatMap(treeLeaves)
    case AndNode(ps, negs) => ps.flatMap(treeLeaves) ++ negs
  }

  /** Resolve every leaf in one Spark job: EQ leaves return their pruned
    * index rows; scan leaves (when a cardinality decision is pending)
    * return a pre-aggregated Σcount. This replaces the reference's (and
    * round 1's) one-lookup-per-branch plan phase (A5,
    * `RangeCalculator.java:664-672`) with a single union of pruned scans;
    * cached terms skip the job entirely, so a hot all-EQ query plans with
    * ZERO Spark jobs.
    */
  private def collectLeafStats(tree: PlanNode, withScanCards: Boolean): Map[Int, LeafStats] = {
    val leaves = treeLeaves(tree)
    val eqs    = leaves.collect { case l: EqLeaf => l }
    val scans  = if (withScanCards) leaves.collect { case l: ScanLeaf => l } else Nil
    // single atomic get per key — a containsKey/get pair could race with
    // a concurrent query's LRU eviction between the two calls
    val lookups = eqs.map(l => l -> termCache.get((l.field, l.forms)))
    val hits   = lookups.collect { case (l, Some(rows)) => (l, rows) }
    val misses = lookups.collect { case (l, None) => l }
    val cachedStats = hits.map { case (l, rows) =>
      l.tag -> LeafStats(rows, rows.map(_.count).sum)
    }
    if (misses.isEmpty && scans.isEmpty) return cachedStats.toMap
    val eqBranches = misses.map { l =>
      index.globalIndex
        .filter(col("fieldName") === l.field && col("fieldValue").isin(l.forms: _*))
        .select(lit(l.tag).as("tag"), col("partition"), col("language"),
          col("count"), col("ignore"), col("uids"))
    }
    val scanBranches = scans.map { l =>
      l.ix.groupBy().agg(coalesce(sum("count"), lit(0L)).as("count"))
        .select(lit(l.tag).as("tag"),
          lit(null).cast("int").as("partition"), lit(null).cast("string").as("language"),
          col("count"), lit(null).cast("boolean").as("ignore"),
          lit(null).cast("array<string>").as("uids"))
    }
    val collected = (eqBranches ++ scanBranches).reduce(_ unionByName _).collect()
    val byTag = collected.groupBy(_.getInt(0))
    val fetched = misses.map { l =>
      val ixRows = byTag.getOrElse(l.tag, Array.empty).toSeq.map(r => IndexRow(
        r.getInt(1), r.getString(2), r.getLong(3), r.getBoolean(4), r.getSeq[String](5)))
      termCache.put((l.field, l.forms), ixRows)
      l.tag -> LeafStats(ixRows, ixRows.map(_.count).sum)
    }
    val scanStats = scans.map { l =>
      l.tag -> LeafStats(Nil, byTag.getOrElse(l.tag, Array.empty).map(_.getLong(3)).sum)
    }
    (cachedStats ++ fetched ++ scanStats).toMap
  }

  // ---- phase C: materialize candidates from resolved stats ---------------

  /** A materialized candidate set: driver-local (bounded, broadcast-able)
    * or distributed. Local sets stay local through OR-union, AND-intersect
    * and negation subtraction, so a pure-EQ boolean query costs ZERO
    * extra Spark jobs between planning and the final semi-join — and that
    * semi-join broadcasts the local relation.
    *
    * `shards` holds lossy (ignore-row) fallbacks SYMBOLICALLY as their
    * (partition, language) keys instead of expanding them to a
    * distributed doc set: the candidate set is docs ∪ every-doc-in-
    * shards, and `run` compiles that union into one IN predicate on the
    * event scan. Sound only when the residual re-verifies everything
    * (default config) — the reference's shard-range fallback expresses
    * the same "whole tablet becomes the range" idea
    * (`RangeCalculator.java:683-705`) without a per-query distributed
    * candidate materialization. Under `unevaluatedFields` the EqLeaf
    * path never produces shard-bearing LocalCands (it needs the exact
    * fi-verification machinery, which is distributed).
    */
  private sealed trait MCand { def card: Long }
  private case class LocalCand(docs: Seq[(Int, String, String)],
      shards: Seq[(Int, String)], card: Long) extends MCand
  /** `parts` = the candidate set's partition (shard) footprint when it is
    * known at plan time (EqLeaf postings — exact AND lossy rows — are
    * collected driver-side, so their shards are known even on the
    * distributed fallback path); None when a distributed range scan makes
    * it data-dependent.
    */
  private case class DistCand(df: DataFrame, card: Long, parts: Option[Seq[Int]] = None)
      extends MCand

  /** Any index-ENFORCED leaf (near/phrase) below this node — such leaves
    * must never be dropped by the min-cardinality superset rule.
    */
  private def hasNear(n: PlanNode): Boolean = n match {
    case _: NearLeaf       => true
    case _: PhraseLeaf     => true
    case OrNode(cs)        => cs.exists(hasNear)
    case AndNode(ps, _)    => ps.exists(hasNear)
    case _                 => false
  }

  /** Known shard footprint of a candidate set (None = unbounded). */
  private def partsOf(m: MCand): Option[Seq[Int]] = m match {
    case LocalCand(docs, shards, _) =>
      Some((docs.map(_._1) ++ shards.map(_._1)).distinct)
    case DistCand(_, _, p) => p
  }

  private val CandKeys = Seq("partition", "language", "docId")

  private def candidateDf(c: MCand): DataFrame = c match {
    case LocalCand(docs, Nil, _) => docs.toDF(CandKeys: _*)
    case LocalCand(docs, shards, _) =>
      docs.toDF(CandKeys: _*).unionByName(
        allDocs.join(broadcast(shards.toDF("partition", "language")),
          Seq("partition", "language"), "left_semi"))
    case DistCand(df, _, _) => df
  }

  /** The LocalCand membership test compiled to ONE codegen'd predicate
    * (InSet over concatenated keys) — zero exchanges, zero extra jobs on
    * the warm serving path; the previous broadcast semi-join cost two
    * scheduler round-trips per query (the broadcast-exchange job + the
    * main job) even when the candidate relation was already driver-local.
    * NUL (U+0000) as separator: it cannot occur in stored
    * partition/language/docId (partition is an int rendered in decimal;
    * language/docId are identifier-shaped), so the concatenation is
    * injective and the membership test is exactly per-column equality.
    */
  private def candPredicate(docs: Seq[(Int, String, String)],
      shards: Seq[(Int, String)]): Column = {
    val S = 0.toChar.toString
    val docPred =
      if (docs.isEmpty) lit(false)
      else concat_ws(S, col("partition"), col("language"), col("docId"))
        .isin(docs.map { case (p, l, d) => s"$p$S$l$S$d" }: _*)
    val shardPred =
      if (shards.isEmpty) lit(false)
      else concat_ws(S, col("partition"), col("language"))
        .isin(shards.map { case (p, l) => s"$p$S$l" }: _*)
    docPred || shardPred
  }

  private def materialize(
      n: PlanNode,
      stats: Map[Int, LeafStats],
      auth: DataFrame => DataFrame,
      auths: Seq[String]): MCand = n match {

    case EmptyLeaf => LocalCand(Nil, Nil, 0L)

    case EqLeaf(tag, field, forms) =>
      val st    = stats.getOrElse(tag, LeafStats(Nil, 0L))
      val rows  = if (auths.isEmpty) st.rows else st.rows.filter(r => auths.contains(r.language))
      val exact = rows.filterNot(_.ignore)
        .flatMap(r => r.uids.map(u => (r.partition, r.language, u))).distinct
      val shards = rows.filter(_.ignore).map(r => (r.partition, r.language)).distinct
      if (shards.isEmpty) LocalCand(exact, Nil, st.card)
      else if (config.unevaluatedFields.isEmpty)
        // lossy rows degrade to whole-(partition, language) candidate
        // sets — the reference's shard-range fallback
        // (`RangeCalculator.java:683-705`). The residual re-verifies
        // every candidate under the default config, so the shard part
        // stays SYMBOLIC (driver-local keys compiled into the event
        // scan's IN predicate) — no distributed candidate
        // materialization, no broadcast exchange on the serving path.
        LocalCand(exact, shards, st.card)
      else {
        // Unevaluated field: the residual compiles to TRUE, so a
        // whole-shard candidate set would leak every doc in the shard —
        // the reference instead walks the EXACT per-partition fi index
        // within the shard (`BooleanLogicIterator`); our fi analogues
        // are termPostings (TEXT) and docsFields (event fields).
        val shardDocs = exactFieldDocs(field, forms).join(
          broadcast(shards.toDF("partition", "language")),
          Seq("partition", "language"), "left_semi")
        // no dedup: candidates only ever feed semi/anti-joins, which are
        // duplicate-tolerant — a dropDuplicates here would cost a full
        // shuffle stage per query on the serving path
        DistCand(exact.toDF(CandKeys: _*).unionByName(shardDocs), st.card,
          parts = Some((exact.map(_._1) ++ shards.map(_._1)).distinct))
      }

    case ScanLeaf(tag, ix, fiVerify) =>
      DistCand(toCandidates(ix, auth, fiVerify.getOrElse(allDocs)),
        stats.get(tag).map(_.card).getOrElse(0L))

    case NearLeaf(_, fld, ts, k, ordered) =>
      // Exact by construction (stored offsets, no lossy form exists for
      // postings). Card is unknown without running the join — MaxValue
      // keeps the min()-folds in intersectAll indifferent to it, and the
      // AND path below never applies the min-card superset rule to a
      // near-bearing conjunction anyway.
      DistCand(nearDocKeys(ts, k, auth, ordered, fld), Long.MaxValue)

    case PhraseLeaf(_, fld, ts) => // same contract as NearLeaf
      DistCand(phraseDocKeys(ts, auth, fld), Long.MaxValue)

    case OrNode(cs) =>
      val ms   = cs.map(materialize(_, stats, auth, auths))
      val card = ms.map(_.card).sum
      if (ms.forall(_.isInstanceOf[LocalCand]))
        LocalCand(
          ms.collect { case LocalCand(d, _, _) => d }.flatten.distinct,
          ms.collect { case LocalCand(_, sh, _) => sh }.flatten.distinct, card)
      else { // union without dedup — downstream semi-join is duplicate-tolerant
        val parts = ms.map(partsOf)
        DistCand(ms.map(candidateDf).reduce(_ unionByName _), card,
          if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get).distinct) else None)
      }

    case AndNode(positives, negatives) =>
      val ms = positives.map(materialize(_, stats, auth, auths))
      val base =
        if (ms.size == 1) ms.head
        else if (config.unevaluatedFields.isEmpty) {
          // Default config: the residual re-verifies everything, so any
          // superset of the true match set is sound. When every branch
          // is driver-local (exact postings and/or symbolic lossy
          // shards), intersect them driver-side — exact over the
          // symbolic form, smaller than any single branch, and an empty
          // result collapses the downstream filter to an empty
          // LocalRelation (PropagateEmptyRelation). Only a distributed
          // branch (range scan) falls back to the reference's
          // min-cardinality superset rule (`RangeCalculator.java:825-834`).
          // EXCEPTION to the superset rule: a NearLeaf branch is
          // index-ENFORCED (its residual is TRUE — positions aren't in
          // the event view), so dropping it for a smaller sibling would
          // silently un-enforce the proximity predicate. Near-bearing
          // conjunctions always intersect exactly.
          if (positives.exists(hasNear)) intersectAll(ms)
          else if (ms.forall(_.isInstanceOf[LocalCand])) intersectAll(ms)
          else ms.minBy(_.card)
        } else intersectAll(ms)
      negatives.foldLeft(base) { (acc, neg) =>
        // anti-join on exact postings only (ignore rows are lossy — a
        // shard-level prune would drop innocent docs), J4.
        val st      = stats.getOrElse(neg.tag, LeafStats(Nil, 0L))
        val negRows = st.rows.filterNot(_.ignore)
          .flatMap(r => r.uids.map(u => (r.partition, r.language, u)))
        val step = acc match {
          case LocalCand(docs, shards, c) =>
            // exact postings subtract from the doc part; the symbolic
            // shard part keeps its negated docs as candidates — sound
            // because shard-bearing locals only exist under the default
            // config, where the residual's absence check re-verifies
            val negSet = negRows.toSet
            LocalCand(docs.filterNot(negSet.contains), shards, c)
          case DistCand(df, c, p) if negRows.nonEmpty =>
            DistCand(df.join(
              broadcast(negRows.toDF(CandKeys: _*)), CandKeys, "left_anti"), c, p)
          case d => d
        }
        // lossy negated postings on an UNEVALUATED field: the residual
        // compiles the NE term to TRUE, so the docs the lossy row hides
        // must be pruned here — exactly, via the fi analogue, limited to
        // the overflowed shards. (Default config needs nothing: the
        // residual's absence check re-verifies.)
        val ignoreShards = st.rows.filter(_.ignore)
          .map(r => (r.partition, r.language)).distinct
        if (ignoreShards.isEmpty || !config.unevaluatedFields.contains(neg.field)) step
        else {
          val negDf = exactFieldDocs(neg.field, neg.forms).join(
            broadcast(ignoreShards.toDF("partition", "language")),
            Seq("partition", "language"), "left_semi")
          DistCand(candidateDf(step).join(negDf, CandKeys, "left_anti"),
            step.card, partsOf(step))
        }
      }
  }

  /** Chained semi-join intersection (AndIterator leapfrog, J1) — local
    * sets intersect driver-side; a distributed base semi-joins the rest
    * (local branches broadcast).
    *
    * All-local intersection is EXACT over the symbolic form: branch i's
    * candidate set is docs_i ∪ shards_i, so the intersection is
    * (∩ shards) ∪ {d ∈ ⋃ docs : ∀i. d ∈ docs_i ∨ shard(d) ∈ shards_i}
    * — still driver-local and strictly smaller than any min-cardinality
    * superset branch. With no lossy rows anywhere it degenerates to the
    * plain exact doc-set intersection.
    */
  private def intersectAll(ms: Seq[MCand]): MCand = {
    val card = ms.map(_.card).min
    if (ms.forall(_.isInstanceOf[LocalCand])) {
      val ls        = ms.collect { case l: LocalCand => l }
      val docSets   = ls.map(_.docs.toSet)
      val shardSets = ls.map(_.shards.toSet)
      val shards    = shardSets.reduce(_ intersect _)
      val docs = docSets.reduce(_ union _).filter { d =>
        !shards.contains((d._1, d._2)) && // already covered by ∩ shards
          docSets.lazyZip(shardSets).forall((ds, ss) =>
            ds.contains(d) || ss.contains((d._1, d._2)))
      }
      LocalCand(docs.toSeq, shards.toSeq, card)
    } else {
      val (dists, locals) = ms.partition(_.isInstanceOf[DistCand])
      val base = dists.map(candidateDf).reduce(
        _.join(_, CandKeys, "left_semi"))
      val df = locals.foldLeft(base)((acc, l) =>
        acc.join(broadcast(candidateDf(l)), CandKeys, "left_semi"))
      // intersection footprint: every branch's known shard set bounds it
      val known = ms.flatMap(partsOf)
      DistCand(df, card,
        if (known.isEmpty) None else Some(known.reduce(_ intersect _)))
    }
  }

  /** Canonical stored forms a numeric equality literal can match:
    * the normalized literal itself plus the canonical double/long
    * renderings ('300.0' query matches stored '300' and vice versa).
    * A finite IN-list, so the filter still pushes to parquet — a
    * try_cast disjunct would not — and it is symmetric between the EQ
    * candidate path and the NE anti-join prune. The residual filter
    * still coerces fully for evaluable fields; exotic renderings
    * ('4.2e1') match only there.
    *
    * HARD INDEX CONTRACT: a stored non-canonical numeric form ('042',
    * '4.2e1') is indexed under its own string and is NOT a candidate for
    * a numerically-equal literal — on an `unevaluatedFields` deployment
    * it will not match. Producers wanting numeric-equality semantics at
    * the index must canonicalize values at build time (or register a
    * canonicalizing normalizer — the multi-normalizer expansion then
    * probes both forms). The default config is unaffected: the residual
    * coerces fully.
    */
  private def eqForms(norm: String): Seq[String] =
    if (!Compiler.isNumeric(norm)) Seq(norm)
    else {
      val d = norm.toDouble
      val longForm = if (d == d.toLong.toDouble) Seq(d.toLong.toString) else Nil
      (Seq(norm, d.toString) ++ longForm).distinct
    }

  /** Exact (partition, language, docId) lookup of docs carrying one of
    * the literal's probe forms — the engine's analogue of the
    * reference's exact per-partition `fi` field index: TEXT terms live
    * in termPostings, event fields in docsFields. Lc-normalized fields
    * compare through `graft_normalize` (stored raw value vs normalized
    * forms); identity fields compare raw with full parquet pushdown.
    * Used where lossy global-index rows are NOT allowed to
    * over-approximate (unevaluated fields — the residual trusts the
    * index there).
    */
  private def exactFieldDocs(field: String, forms: Seq[String]): DataFrame =
    exactFieldPred(field, _.isin(forms: _*))

  /** Same, for an arbitrary value predicate (prefix / suffix / range
    * shapes on unevaluated fields).
    */
  private def exactFieldPred(field: String, pred: Column => Column): DataFrame = {
    val (src, valueCol) =
      if (field == "TEXT")
        (index.termPostings, col("term"))
      else
        (index.docsFields.filter(col("fieldName") === field), col("fieldValue"))
    val v =
      if (residualNorms.contains(field)) call_function("graft_normalize", valueCol)
      else valueCol
    src.filter(pred(v)).select(col("partition"), col("language"), col("docId"))
  }

  /** Index rows → candidate docs: exact uids exploded; lossy (ignore)
    * rows degrade to whole-(partition, language) candidate sets — the
    * reference's shard-range fallback (`RangeCalculator.java:683-705`).
    */
  private def toCandidates(
      ix: DataFrame,
      auth: DataFrame => DataFrame,
      shardSource: DataFrame): DataFrame = {
    val exact = ix.filter(!col("ignore"))
      .select(col("partition"), col("language"), explode(col("uids")).as("docId"))
    // no distinct/dropDuplicates: the broadcast HashedRelation dedupes
    // shard keys itself, and candidates only feed duplicate-tolerant
    // semi/anti-joins — each explicit dedup would add a shuffle stage
    val shards = ix.filter(col("ignore")).select("partition", "language")
    val shardDocs = shardSource.join(broadcast(shards), Seq("partition", "language"), "left_semi")
    auth(exact.unionByName(shardDocs))
  }

  // ---- event materialization ---------------------------------------------

  /** The per-document event view (P1/A8 pivot) — materialized once at
    * index build (`WikiIndex.events`, the reference's `wiki` event
    * table), filtered here by auths and candidate semi-join. The
    * semi-join keys lead with `partition`, so a partitioned event store
    * prunes at 100 TB; candidate sets are index-bounded.
    */
  private def eventView(auth: DataFrame => DataFrame, candidates: Option[DataFrame]): DataFrame = {
    val keys = Seq("partition", "language", "docId")
    val ev   = auth(index.events)
    candidates.fold(ev)(c => ev.join(c, keys, "left_semi"))
  }

  private def finish(df: DataFrame): DataFrame =
    df.withColumn("DOCUMENT",
      concat(lit("DOCUMENT:"), col("partition"), lit("/"), col("language"), lit("/"), col("docId")))
}

object WikiSearchEngine {
  val NoField = "__NONE__"

  sealed trait RegexShape
  case class Prefix(p: String) extends RegexShape
  case class Suffix(s: String) extends RegexShape
  case object Opaque           extends RegexShape

  /** Classify a (normalized) regex literal the way the reference's range
    * calculator does (`RangeCalculator.java:357-420`): `lit.*` → forward
    * prefix, `.*lit` → reverse-index suffix, anything else → opaque.
    * The literal test is TextFunctions.plainRegexLiteral — the SAME
    * classifier the residual's jexlMatches specializes on, so the index
    * access path and the residual can never disagree about a shape.
    */
  def classifyRegex(re: String): RegexShape = {
    import graft.functions.TextFunctions.{plainRegexLiteral => plain}
    if (re.endsWith(".*") && plain(re.dropRight(2))) Prefix(re.dropRight(2))
    else if (re.startsWith(".*") && plain(re.drop(2))) Suffix(re.drop(2))
    else Opaque
  }

  /** The character trigrams a full-string match of `re` provably
    * requires in any matching value, or None when the pattern uses a
    * construct this conservative tokenizer does not model (classes,
    * alternation, groups, anchors, quantified literals, class
    * shorthands) — those fall back to the scan path.
    *
    * Modeled grammar: literal chars, escaped metachar literals, and the
    * wildcard atoms `.`, `.*`, `.+`, `.?`. Under that grammar every
    * literal char is mandatory, so each maximal literal run is a
    * required substring of any match, and every trigram of a run ≥3
    * chars is a required gram. Runs shorter than 3 contribute nothing
    * (`c.l.mn` stays on the scan path, as before).
    */
  def requiredGrams(re: String): Option[Seq[String]] = {
    val meta = ".+*?[](){}|\\^$"
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur  = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { runs += cur.toString; cur.clear() } }
    var i = 0
    while (i < re.length) {
      re.charAt(i) match {
        case '.' => // wildcard atom, optionally quantified: nothing mandatory
          flush()
          i += 1
          if (i < re.length && "*+?".contains(re.charAt(i))) i += 1
        case '\\' => // escaped metachar → literal; \w-style shorthand → bail
          if (i + 1 >= re.length) return None
          val esc = re.charAt(i + 1)
          if (esc.isLetterOrDigit) return None
          if (i + 2 < re.length && "*+?{".contains(re.charAt(i + 2))) return None
          cur.append(esc); i += 2
        case c if meta.contains(c) => return None // unmodeled construct
        case c => // a quantifier would make this literal optional/repeated
          if (i + 1 < re.length && "*+?{".contains(re.charAt(i + 1))) return None
          cur.append(c); i += 1
      }
    }
    flush()
    val grams = runs.filter(_.length >= 3).flatMap(_.sliding(3)).distinct.toSeq
    if (grams.isEmpty) None else Some(grams)
  }
}
