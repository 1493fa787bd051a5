package graft.ingest

import graft.functions.{TextFunctions, UidListAggregator, UidListMergeAggregator}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's four logical tables (SURVEY.md §1.4), the Spark-native
  * re-expression of the reference's `wiki` / `wikiIndex` /
  * `wikiReverseIndex` / `wikiMetadata` Accumulo tables
  * (`WikipediaMapper.java:86-89`).
  *
  * All are plain DataFrames: at scale each is a partitioned parquet
  * dataset; here they may also live in memory for tests.
  */
case class WikiIndex(
    docsFields: DataFrame,   // (partition, language, docId, fieldName, fieldValue)
    documents: DataFrame,    // (partition, language, docId, textB64)
    globalIndex: DataFrame,  // (fieldValue, fieldName, partition, language, count, uids, ignore)
    metadata: DataFrame,     // (fieldName, kind, language, normalizer)
    termPostings: DataFrame, // (term, language, partition, docId, tf, offsets[, dl — round 9+])
    storedEvents: Option[DataFrame] = None, // loaded event view, if persisted
    storedReverse: Option[DataFrame] = None, // loaded reverse index, if persisted
    storedTrigram: Option[DataFrame] = None, // loaded trigram index, if persisted
    storedDocLengths: Option[DataFrame] = None, // loaded per-doc lengths, if persisted
    storedCorpusStats: Option[DataFrame] = None, // loaded per-language stats, if persisted
    /** Positional postings for NON-TEXT tokenized fields, when the build
      * declared any (`IndexBuilder` `offsetsFields`): (fieldName, term,
      * language, partition, docId, tf, offsets). TEXT's postings remain
      * the dedicated `termPostings` table (the overwhelmingly hot field
      * keeps its lean schema and partitioned-sorted layout); this table
      * serves `f:near`/`f:phrase`/`f:onear` on the declared extra
      * fields — the offsets machinery was always field-generic, only
      * the ingest wiring was TEXT-only (reference parity:
      * `WikipediaMapper.java:155-168` stores TermWeight for article
      * text only).
      */
    fieldPostings: Option[DataFrame] = None,
    /** Query-time synonym equivalence sets persisted as INDEX state
      * (kind, name, value): ("syn", term, synonym) rows plus
      * ("fld", fieldName, null) rows naming the fields the table
      * applies to. The reference persists per-field query-semantics
      * state (normalizer class names) in its metadata table
      * (`WikipediaMapper.java:199-208`); a synonym table that lived
      * only on the session would let two sessions serving the same
      * saved index silently disagree on expanded results —
      * `WikiSearchEngine` rehydrates `EngineConfig.synonyms` from this
      * when the caller passes none. Catalog-sized.
      */
    storedSynonyms: Option[DataFrame] = None
) {

  /** The pivoted per-document event view — one row per doc with
    * `fields: map<fieldName, array<values>>` (TEXT tokens included).
    * This IS the reference's `wiki` event table (P1/A8 pivot,
    * `EvaluatingIterator.fillMap`): materialized once at build time and
    * persisted by `save` (loaded form short-circuits the derivation). At
    * 100 TB it is partitioned parquet; queries semi-join candidates
    * against it with partition pruning.
    */
  lazy val events: DataFrame = storedEvents.getOrElse(derivedEvents)

  private lazy val derivedEvents: DataFrame = {
    val fieldArrays = docsFields
      .groupBy("partition", "language", "docId", "fieldName")
      .agg(collect_list(col("fieldValue")).as("vals"))
    val textArrays = termPostings
      .groupBy(col("partition"), col("language"), col("docId"))
      .agg(collect_list(col("term")).as("vals"))
      .withColumn("fieldName", lit("TEXT"))
      .select("partition", "language", "docId", "fieldName", "vals")
    fieldArrays.unionByName(textArrays)
      .groupBy("partition", "language", "docId")
      .agg(map_from_entries(collect_list(struct(col("fieldName"), col("vals")))).as("fields"))
  }

  /** Reverse index: same rows keyed by reversed value, for
    * leading-wildcard lookups (`WikipediaMapper.java:193-197`). Derived
    * as a projection at build time (SURVEY.md §1.4 — not a second
    * pipeline), but PERSISTED by `save` sorted on the reversed value:
    * a `startsWith` prefix probe against the stored form pushes to the
    * parquet scan, whereas a filter over `reverse(fieldValue)` computed
    * on the fly cannot — at 100 TB that is the difference between a
    * pruned range read and a full index scan per suffix query.
    */
  def reverseIndex: DataFrame =
    storedReverse.getOrElse(WikiIndex.deriveReverse(globalIndex))

  /** Trigram index over the VOCABULARY (pg_trgm posture): one row per
    * distinct (fieldName, gram, fieldValue), derived as a projection of
    * the global index — vocabulary-sized × (len−2), NOT corpus-sized,
    * because an infix probe only needs to find which indexed VALUES can
    * match; the values then probe the global index like any EQ leaf.
    * PERSISTED by `save` sorted on gram so a gram IN-list probe pushes
    * to the parquet scan; the derived fallback keeps unpersisted (live /
    * in-memory) indexes queryable.
    */
  def trigramIndex: DataFrame =
    storedTrigram.getOrElse(WikiIndex.deriveTrigrams(globalIndex))

  /** Per-document token length `(partition, language, docId, dl)` — the
    * BM25 `dl` statistic, materialized at index build rather than
    * re-derived from raw content per query (the reference's own posture:
    * `TermWeight.Info.normalizedTermFrequency` is precomputed at ingest,
    * `ingest/src/main/protobuf/TermWeight.proto:54-57`, merged by
    * `TextIndexCombiner.java:45-79`). The derived fallback is EXACT
    * without touching raw text: every token position appears in exactly
    * one term's offsets array, so dl = Σ_term |offsets| per doc; docs
    * with no tokens get dl = 0 via the left join on the document keys.
    * `save` persists this (and `load` reads it back) so a ranked query
    * reads one narrow column instead of folding offsets arrays.
    */
  def docLengths: DataFrame =
    storedDocLengths.getOrElse(
      documents.select("partition", "language", "docId")
        .join(
          termPostings.groupBy("partition", "language", "docId")
            .agg(sum(size(col("offsets"))).cast("double").as("dl")),
          Seq("partition", "language", "docId"), "left")
        .na.fill(0.0, Seq("dl")))

  /** Per-language corpus statistics `(language, n, sum_dl)` for BM25's
    * N and avgdl. Kept per LANGUAGE (not one global row) because
    * language is this engine's visibility label: an auth-restricted
    * query must exclude unauthorized documents from N/avgdl too, so the
    * serving aggregation is a sum over the authorized rows of this
    * catalog-sized table. Values are integer-valued doubles (token
    * counts), so any summation order yields bit-identical results
    * (exact integer sums below 2^53).
    */
  def corpusStats: DataFrame =
    storedCorpusStats.getOrElse(
      docLengths.groupBy("language")
        .agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).as("sum_dl")))

  /** Attach a synonym table as persistent index state (see
    * `storedSynonyms`): `save` writes it beside `metadata`, `load`
    * rehydrates it, and an engine constructed with the default config
    * serves the expanded semantics. Rows are sorted for a deterministic
    * store; semantics are order-free (EQ expands to an OR over the set).
    */
  def withSynonyms(synonyms: Map[String, Seq[String]],
      fields: Set[String] = Set("TEXT")): WikiIndex =
    copy(storedSynonyms =
      Some(WikiIndex.synonymRows(metadata.sparkSession, synonyms, fields)))

  def cacheAll(): WikiIndex = {
    docsFields.cache(); documents.cache(); globalIndex.cache(); metadata.cache()
    termPostings.cache(); events.cache(); fieldPostings.foreach(_.cache())
    this
  }

  /** Persist as partitioned, sorted parquet — the analogue of the
    * reference's bulk sorted-RFile load
    * (`BufferingRFileRecordWriter.java:371-468`): data co-located by
    * `partition`, sorted within partitions so term scans are contiguous.
    */
  def save(dir: String): Unit = {
    docsFields
      .repartition(col("partition"))
      .sortWithinPartitions("language", "docId", "fieldName")
      .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/docs_fields")
    documents
      .repartition(col("partition"))
      .sortWithinPartitions("language", "docId")
      .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/documents")
    globalIndex
      .repartition(col("fieldName"))
      .sortWithinPartitions("fieldValue")
      .write.mode("overwrite").parquet(s"$dir/global_index")
    WikiIndex.sortedReverse(globalIndex).write.mode("overwrite").parquet(s"$dir/reverse_index")
    WikiIndex.sortedTrigrams(globalIndex).write.mode("overwrite").parquet(s"$dir/trigram_index")
    metadata.coalesce(1).write.mode("overwrite").parquet(s"$dir/metadata")
    termPostings
      .repartition(col("partition"))
      .sortWithinPartitions("term", "docId")
      .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/term_postings")
    events
      .repartition(col("partition"))
      .sortWithinPartitions("language", "docId")
      .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/events")
    docLengths
      .repartition(col("partition"))
      .sortWithinPartitions("language", "docId")
      .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/doc_lengths")
    corpusStats.coalesce(1).write.mode("overwrite").parquet(s"$dir/corpus_stats")
    storedSynonyms.foreach(
      _.coalesce(1).write.mode("overwrite").parquet(s"$dir/synonyms"))
    fieldPostings.foreach { fp0 =>
      // a row-empty dataset written with partitionBy carries NO
      // schema-bearing file, so load would drop the table while the
      // metadata catalog still declares kind-p fields — write a single
      // schema-carrying empty file instead (legal corpus: every
      // declared value was null), keeping the loud missing-table error
      // reserved for genuine loss/corruption. The frame is persisted
      // around the probe so the postings derivation runs ONCE, not once
      // for the emptiness check and again for the write.
      val fp = fp0.persist()
      try {
        if (fp.isEmpty)
          fp.coalesce(1).write.mode("overwrite").parquet(s"$dir/field_postings")
        else fp
          .repartition(col("partition"))
          .sortWithinPartitions("fieldName", "term", "docId")
          .write.mode("overwrite").partitionBy("partition").parquet(s"$dir/field_postings")
      } finally { fp.unpersist(); () }
    }
  }
}

object WikiIndex {
  def load(spark: SparkSession, dir: String): WikiIndex = {
    // older saved dirs may predate the optional parts — fall back to the
    // derived projections. `exists` first: Spark logs a failed read of a
    // missing dir as a FileStreamSink trace
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def optional(part: String): Option[DataFrame] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$part"))) None
      else try Some(spark.read.parquet(s"$dir/$part"))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    WikiIndex(
      docsFields = spark.read.parquet(s"$dir/docs_fields"),
      documents = spark.read.parquet(s"$dir/documents"),
      globalIndex = spark.read.parquet(s"$dir/global_index"),
      metadata = spark.read.parquet(s"$dir/metadata"),
      termPostings = spark.read.parquet(s"$dir/term_postings"),
      storedEvents = Some(spark.read.parquet(s"$dir/events")),
      storedReverse = optional("reverse_index"),
      storedTrigram = optional("trigram_index"),
      storedDocLengths = optional("doc_lengths"),
      storedCorpusStats = optional("corpus_stats"),
      fieldPostings = optional("field_postings"),
      storedSynonyms = optional("synonyms"))
  }

  /** The persisted (kind, name, value) synonym table — the ONE
    * serialization shared by batch stores (`withSynonyms` → `save`) and
    * live stores (`LiveEngineMaintainer` writes it once at store level),
    * so the two cannot drift. Rows are sorted for a deterministic
    * store; semantics are order-free (EQ expands to an OR over the set).
    */
  def synonymRows(spark: SparkSession, synonyms: Map[String, Seq[String]],
      fields: Set[String]): DataFrame = {
    val rows =
      synonyms.toSeq.sortBy(_._1).flatMap { case (t, alts) =>
        alts.sorted.map(a => ("syn", t, a)) } ++
      fields.toSeq.sorted.map(f => ("fld", f, null: String))
    import spark.implicits._
    rows.toDF("kind", "name", "value")
  }

  /** (fieldName, gram, fieldValue) for every distinct vocabulary value —
    * the derivation shared by `save` (persisted, gram-sorted) and the
    * on-the-fly `trigramIndex` fallback.
    */
  def deriveTrigrams(globalIndex: DataFrame): DataFrame =
    globalIndex.select("fieldName", "fieldValue").distinct()
      .withColumn("gram",
        explode(graft.functions.TextFunctions.charTrigrams(col("fieldValue"))))
      .select("fieldName", "gram", "fieldValue")

  /** The global index's rows keyed by reversed value — the derivation
    * behind `reverseIndex`'s fallback, `save` and the live parts.
    */
  def deriveReverse(globalIndex: DataFrame): DataFrame =
    globalIndex.withColumn("fieldValue", reverse(col("fieldValue")))

  /** The persisted access-path layouts shared by `save` and the
    * compacted live base: sorted by REVERSED value (suffix probes prune)
    * and by gram (infix probes prune).
    */
  def sortedReverse(globalIndex: DataFrame): DataFrame =
    deriveReverse(globalIndex).repartition(col("fieldName")).sortWithinPartitions("fieldValue")

  def sortedTrigrams(globalIndex: DataFrame): DataFrame =
    deriveTrigrams(globalIndex).repartition(col("fieldName")).sortWithinPartitions("gram")
}

/** Batch index construction — the Spark shape of the reference's ingest
  * MR jobs (`WikipediaIngester.java:139-185`, SURVEY.md §3.3): one
  * DataFrame program; the MR two-phase + LRU combiner + bulk-RFile
  * machinery is subsumed by shuffle + partial aggregation + sorted writes.
  */
object IndexBuilder {

  val LcNormalizer = "graft.functions.TextFunctions.lcNoDiacritics"
  val NoOpNormalizer = "identity"

  /** Build from MediaWiki articles. `numPartitions` mirrors the
    * reference's `id % numPartitions` document partitioner
    * (`WikipediaMapper.java:114-117`) — kept as an explicit column so
    * joins between index and docs co-partition.
    *
    * `offsetsFields` declares EVENT fields (e.g. COMMENTS) that should
    * additionally store positional postings, making them `f:near` /
    * `f:onear` / `f:phrase`-capable like TEXT (beyond the reference,
    * which stores TermWeight offsets for article text only —
    * `WikipediaMapper.java:155-168`). Each declared field is tokenized
    * with the SAME tokenizer as TEXT (so query literals normalize
    * identically) and recorded in metadata as a `kind = "p"` row — the
    * engine discovers positional capability from the catalog, never by
    * probing the table.
    */
  def fromArticles(spark: SparkSession, articles: Dataset[Article], numPartitions: Int,
      offsetsFields: Set[String] = Set.empty): WikiIndex = {
    // field names are stored uppercase; accept any casing in the declaration
    val offsetsUp = offsetsFields.map(_.toUpperCase)
    validateFieldDecls(Set("ID", "TITLE", "TIMESTAMP", "COMMENTS"), Set.empty, offsetsUp)
    graft.plans.GraftFunctions.register(spark)
    val base = documentKeys(articles.toDF, "id", numPartitions)
    base.cache()
    // Event fields {ID, TITLE, TIMESTAMP, COMMENTS} (ArticleExtractor.java:81-88)
    val id = "ID" -> col("id").cast("string")
    val timestamp = "TIMESTAMP" -> col("timestamp").cast("string")
    val comments = "COMMENTS" -> col("comments")
    val title = col("title")
    val lcTitle = call_function("graft_normalize", title) // native codegen'd expr
    // TITLE carries TWO normalizers (reference parity: one metadata row
    // per normalizer class, `WikipediaIngester.java:129-136` +
    // `FieldIndexQueryReWriter.orNormalizedTerms`): the Lc-normalized
    // form plus the raw form where they differ, so both an exact-cased
    // and a folded query literal hit the index.
    build(Source(base,
      events = Seq(id, "TITLE" -> title, timestamp, comments),
      indexed = Seq(id, "TITLE" -> lcTitle, "TITLE" -> when(title =!= lcTitle, title),
        timestamp, comments),
      indexNulls = false,
      catalog = Seq("ID" -> NoOpNormalizer, "TITLE" -> LcNormalizer, "TITLE" -> NoOpNormalizer,
        "TIMESTAMP" -> NoOpNormalizer, "TEXT" -> LcNormalizer),
      tokenizer = TextFunctions.tokenize(_), offsets = offsetsUp))
  }

  /** Build from the driver's synthetic `documents` table
    * (doc_id, text, lang, source, n_chars) — same engine surface over the
    * harness corpus. Whitespace tokenizer for oracle parity.
    *
    * `extraFields` declares ADDITIONAL event fields as named Column
    * expressions over the documents schema (e.g. a derived headline or
    * section column) — they join the pivoted event view and the
    * residual's reach, but NOT the shared `documentIndexRows`
    * extraction (the global index and the live-ingest deltas stay
    * byte-identical with or without extras). `offsetsFields` (names
    * from `extraFields` or the stock event fields) additionally store
    * positional postings tokenized with the SAME whitespace tokenizer
    * as TEXT, making them `f:near`/`f:onear`/`f:phrase`-capable —
    * the documents-table twin of `fromArticles`' declaration.
    */
  def fromDocumentsTable(spark: SparkSession, docs: DataFrame, numPartitions: Int,
      extraFields: Map[String, org.apache.spark.sql.Column] = Map.empty,
      offsetsFields: Set[String] = Set.empty): WikiIndex =
    build(documentsSource(docs, numPartitions, extraFields, offsetsFields))

  /** The (fieldValue, fieldName, partition, language, docId) index input
    * rows for a `documents`-table batch — `fromDocumentsTable`'s own
    * index-row step, shared with the streaming live-ingest deltas
    * (`streaming/LiveIngest`): both paths index identically by
    * construction, so an incrementally-merged index equals a from-scratch
    * build exactly (A1 merge associativity).
    */
  def documentIndexRows(docs: DataFrame, numPartitions: Int): DataFrame = {
    val src = documentsSource(docs, numPartitions, Map.empty, Set.empty)
    indexRows(src, tokenRows(tokensOf(src)))
  }

  /** `(partition, docId)` for documents keyed by the id column `id` —
    * the reference's `id % numPartitions` partitioner, shared by both
    * builds and the live delete markers.
    */
  def documentKeys(docs: DataFrame, id: String, numPartitions: Int): DataFrame =
    docs.withColumn("partition", pmod(col(id), lit(numPartitions)).cast("int"))
      .withColumn("docId", col(id).cast("string"))

  /** What the two ingest front ends differ in: `base` (one row per
    * document with `partition`, `language`, `docId`, `text`), the event
    * fields over it, the indexed values in their normalizer forms (a
    * field repeats once per form; a null value is dropped unless
    * `indexNulls` — the documents table has always indexed a null stock
    * value as its own row), the catalog's (fieldName, normalizer) rows,
    * the tokenizer, and the fields declared positional.
    */
  private case class Source(base: DataFrame, events: Seq[(String, Column)],
      indexed: Seq[(String, Column)], indexNulls: Boolean, catalog: Seq[(String, String)],
      tokenizer: Column => Column, offsets: Set[String])

  private def documentsSource(docs: DataFrame, numPartitions: Int,
      extraFields: Map[String, Column], offsetsFields: Set[String]): Source = {
    val offsets = offsetsFields.map(_.toUpperCase)
    validateFieldDecls(Set("ID", "SOURCE", "NCHARS"),
      extraFields.keys.map(_.toUpperCase).toSet, offsets)
    val stock = Seq("ID" -> col("doc_id").cast("string"), "SOURCE" -> col("source"),
      "NCHARS" -> col("n_chars").cast("string"))
    Source(documentKeys(docs, "doc_id", numPartitions).withColumnRenamed("lang", "language"),
      events = stock ++ extraFields.toSeq.sortBy(_._1).map { case (n, c) =>
        n.toUpperCase -> c.cast("string") },
      indexed = stock, indexNulls = true,
      catalog = (stock.map(_._1) :+ "TEXT").map(_ -> NoOpNormalizer),
      tokenizer = TextFunctions.tokenizeWs(_), offsets = offsets)
  }

  /** The one build behind both front ends: the base once, the tokenizer
    * applied to the text once, and every table derived from the two.
    */
  private def build(src: Source): WikiIndex = {
    val spark = src.base.sparkSession
    import spark.implicits._
    val tokens = tokensOf(src)
    val docsFields = fieldRows(src.base, src.events).where(col("fieldValue").isNotNull)
    val documents = src.base.select(
      col("partition"), col("language"), col("docId"),
      base64(col("text").cast("binary")).as("textB64"))
    // Index rows: normalized field values + distinct TEXT tokens
    // (WikipediaMapper.java:155-191).
    val textRows = tokenRows(tokens)
    val globalIndex = buildGlobalIndex(indexRows(src, textRows))

    val metadata = {
      val fieldsDf = (src.events.map(f => (f._1, "e", null: String)) ++
        src.catalog.map { case (f, n) => (f, "i", n) } ++
        src.offsets.toSeq.sorted.map(f => (f, "p", null: String)))
        .toDF("fieldName", "kind", "normalizer")
      // LAZY static rows: the per-language fan-out is a crossJoin of the
      // distinct-language frame with a literal local relation instead of
      // an eager `.distinct().collect()` — a builder whose caller never
      // evaluates `metadata` (e.g. ws_index_incremental, consuming only
      // `globalIndex`) pays no corpus pass at construction time. Row
      // order is irrelevant (metadata is a catalog, collected to a map).
      // EVALUATE-ONCE expectation: the distinct-language scan is part of
      // this plan, so every evaluation of an uncached metadata frame
      // re-runs it (and needs `base`'s session alive). save() writes it
      // once; the serving path caches it (engine() does
      // ix.metadata.cache()) — a caller evaluating metadata repeatedly
      // should do the same.
      val static = src.base.select(col("language")).distinct()
        .crossJoin(fieldsDf)
        .select(col("fieldName"), col("kind"), col("language"), col("normalizer"))
        .withColumn("frequency", lit(null).cast("bigint"))
      // Per-(field, language) ingested-occurrence counts — the
      // reference's metadata `f` column family (SummingCombiner totals,
      // `WikipediaIngester.java:129-136`). Map-side-combined, tiny output.
      val frequency = docsFields.unionByName(textRows)
        .groupBy("fieldName", "language").agg(count(lit(1)).as("frequency"))
        .select(col("fieldName"), lit("f").as("kind"), col("language"),
          lit(null).cast("string").as("normalizer"), col("frequency"))
      static.unionByName(frequency)
    }

    val fieldPostings =
      if (src.offsets.isEmpty) None
      else Some(positionalPostings(
        docsFields.filter(col("fieldName").isin(src.offsets.toSeq: _*)), src.tokenizer))

    WikiIndex(docsFields, documents, globalIndex, metadata, buildTermPostings(tokens),
      fieldPostings = fieldPostings)
  }

  /** (partition, language, docId, tokens): the tokenizer's one application to the text. */
  private def tokensOf(src: Source): DataFrame =
    src.base.select(col("partition"), col("language"), col("docId"),
      src.tokenizer(col("text")).as("tokens"))

  /** (partition, language, docId, fieldName, fieldValue) per entry of `fields`. */
  private def fieldRows(base: DataFrame, fields: Seq[(String, Column)]): DataFrame =
    base.select(col("partition"), col("language"), col("docId"),
      inline(array(fields.map { case (n, c) =>
        struct(lit(n).as("fieldName"), c.as("fieldValue")) }: _*)))

  /** Each document's distinct TEXT tokens as index input rows. */
  private def tokenRows(tokens: DataFrame): DataFrame =
    tokens.select(col("partition"), col("language"), col("docId"),
      explode(array_distinct(col("tokens"))).as("fieldValue"), lit("TEXT").as("fieldName"))

  /** The index-row step: the indexed field values plus the TEXT tokens. */
  private def indexRows(src: Source, textRows: DataFrame): DataFrame = {
    val fields = fieldRows(src.base, src.indexed)
    (if (src.indexNulls) fields else fields.where(col("fieldValue").isNotNull))
      .unionByName(textRows)
      .select("fieldValue", "fieldName", "partition", "language", "docId")
  }

  /** (fieldValue, fieldName, partition, language, docId) rows → lossy
    * global index via the UidList aggregator (A1). GroupBy keys match the
    * reference's index key layout (`WikipediaMapper.java:186-191`); the
    * shuffle is the only wide dependency and is keyed by term, so at
    * 100 TB hot terms degrade to counts (ignore=true) instead of
    * unbounded arrays.
    */
  def buildGlobalIndex(rows: DataFrame): DataFrame = {
    val uidAgg = udaf(new UidListAggregator())
    indexColumns(rows.groupBy(IndexKeys.map(col): _*).agg(uidAgg(col("docId")).as("u")))
  }

  /** Skew-hardened index build: two-phase aggregation with a salt on the
    * first shuffle. A pathological term (stopword across a 100 TB corpus)
    * sends all its rows to one reducer in the single-phase build; salting
    * splits it over `salts` reducers, and the second phase merges the
    * partials. This is EXACTLY correct — not approximately — because the
    * UidList combiner is associative/commutative under merge (A1's
    * contract, proven by `ws_index_incremental` and AggregatorsSpec).
    */
  def buildGlobalIndexSalted(rows: DataFrame, salts: Int = 16): DataFrame = {
    val uidAgg   = udaf(new UidListAggregator())
    val mergeAgg = udaf(new UidListMergeAggregator())
    indexColumns(rows
      .withColumn("salt", pmod(hash(col("docId")), lit(salts)))
      .groupBy((IndexKeys :+ "salt").map(col): _*)
      .agg(uidAgg(col("docId")).as("u"))
      .groupBy(IndexKeys.map(col): _*)
      .agg(mergeAgg(col("u.count"), col("u.uids"), col("u.ignore")).as("u")))
  }

  private val IndexKeys = Seq("fieldValue", "fieldName", "partition", "language")

  /** The grouped keys with the UidList struct `u` flattened. */
  private def indexColumns(grouped: DataFrame): DataFrame =
    grouped.select(IndexKeys.map(col) ++ Seq(col("u.count").as("count"),
      col("u.uids").as("uids"), col("u.ignore").as("ignore")): _*)

  /** `field_postings` rebuilt from CORE data: positional postings over
    * the fields the METADATA catalog declares positional (kind = "p"
    * rows), tokenized with the documents-table tokenizer (whitespace —
    * the builder that owns live stores; the wiki-XML path declares its
    * fields at build time and persists the table directly). Shared by
    * the live read-path fallback (`LiveEngineMaintainer.indexAt` when
    * the read set does not carry the part) and
    * `Compaction.compactEngine`'s base rebuild — both agree with
    * `fromDocumentsTable`'s own construction because all three go
    * through `positionalPostings`. The catalog probe is a broadcast
    * semi-join, not a driver collect, so the derivation stays fully
    * lazy: a store with no declared fields yields an empty frame no
    * query ever scans (the engine consults the table only for
    * catalog-declared fields).
    */
  def deriveFieldPostings(docsFields: DataFrame, metadata: DataFrame): DataFrame = {
    val declared = metadata.filter(col("kind") === "p")
      .select("fieldName").distinct()
    positionalPostings(docsFields.join(broadcast(declared), Seq("fieldName"), "leftsemi"),
      TextFunctions.tokenizeWs(_))
  }

  /** Postings over the declared fields' `docs_fields` rows, tokenized
    * with the builder's own tokenizer (the one that builds TEXT —
    * positional literals normalize like TEXT literals on the query side).
    */
  private def positionalPostings(declared: DataFrame, tokenizer: Column => Column): DataFrame =
    buildTermPostings(declared.select(col("fieldName"), col("partition"), col("language"),
      col("docId"), tokenizer(col("fieldValue")).as("tokens")))

  /** Build-time validation of the field declarations: an offsets name
    * with no backing field would otherwise build a silently-empty
    * positional index (every proximity query empty, no error), and an
    * extra field colliding with a stock name or TEXT fails later with a
    * far-away duplicate-map-key error. Fail HERE, loudly.
    */
  private def validateFieldDecls(
      stock: Set[String], extras: Set[String], offsetsUp: Set[String]): Unit = {
    val clash = extras.intersect(stock + "TEXT")
    require(clash.isEmpty,
      s"extraFields collide with stock fields: ${clash.toSeq.sorted.mkString(", ")}")
    val orphans = offsetsUp.diff(stock ++ extras)
    require(orphans.isEmpty,
      s"offsetsFields name no declared field: ${orphans.toSeq.sorted.mkString(", ")} " +
        s"(available: ${(stock ++ extras).toSeq.sorted.mkString(", ")})")
  }

  /** (…, tokens: array<string>) → per-(term, doc) postings with positions,
    * normalized TF, and the document's token length (`TermWeight.proto:
    * 54-57` — the reference likewise denormalizes the length into the
    * posting via normalizedTermFrequency). Carrying `dl` on every
    * posting row costs 8 bytes/row and buys ranked serving a zero-join
    * plan: BM25 reads ONLY the query terms' postings — no corpus-sized
    * doc-length join per query. Pure built-ins: posexplode +
    * collect_list + sort, no UDAF needed on this path.
    *
    * Input carrying a `fieldName` column yields the positional postings
    * of declared non-TEXT fields (`WikiIndex.fieldPostings`): the same
    * shuffle keyed by (field, term) — a hot term in one field never
    * skews another's — and no `dl`.
    */
  def buildTermPostings(docsTokens: DataFrame): DataFrame = {
    val byField = docsTokens.columns.contains("fieldName")
    val grouped = docsTokens
      .withColumn("nTokens", size(col("tokens")))
      .select(docsTokens.columns.filter(_ != "tokens").map(col) ++
        Seq(col("nTokens"), posexplode(col("tokens")).as(Seq("pos", "term"))): _*)
      .groupBy(((if (byField) Seq("fieldName") else Nil) ++
        Seq("term", "language", "partition", "docId")).map(col): _*)
    val tf = (count(lit(1)) / first(col("nTokens"))).cast("float").as("tf")
    val offsets = array_sort(collect_list(col("pos"))).as("offsets")
    if (byField) grouped.agg(tf, offsets)
    else grouped.agg(tf, offsets, first(col("nTokens")).cast("double").as("dl"))
  }
}
