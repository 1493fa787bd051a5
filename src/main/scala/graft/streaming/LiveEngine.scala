package graft.streaming

import graft.ingest.{IndexBuilder, WikiIndex}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live maintenance of the FULL queryable store — every table the
  * search engine serves from, not just the global index
  * (`LiveIndexMaintainer`'s scope). This is the complete Spark shape of
  * the reference's LIVE mode: streamed ingest keeps ALL of `wiki` /
  * `wikiIndex` / `wikiMetadata` queryable while Mutations flow
  * (`WikipediaIngester.java:90-136`), so here a `WikiSearchEngine`
  * constructed over `latestIndex` serves the full query language over
  * everything ingested so far — StreamingSpec pins engine-result
  * equality against a from-scratch batch build.
  *
  * Same [[VersionedStore]] lifecycle as the other maintainers; per
  * batch this writes the batch's delta of each part. CORE parts (a
  * version commits once all of them have):
  *
  *   - `docs_fields`, `documents`, `postings`, `events` — per-document
  *     rows, purely additive → readers union (the batch's event pivot
  *     equals the union pivot restricted to the batch's docs, because
  *     the pivot groups by document key).
  *   - `global` — lossy UidList postings → readers fold the union
  *     through `IncrementalIndex.mergeAll` (merge-on-read, exact by
  *     A1's contract).
  *   - `metadata` — (field, kind, language, normalizer) catalog rows →
  *     readers union + distinct (a language seen twice is one row).
  *   - `tombstones` — DELETE markers (`processDeletes`), (partition,
  *     docId) rows (Lucene liveDocs / Accumulo delete entries): per-doc
  *     parts are masked at read scope, version-ordered, and
  *     `Compaction.compactEngine` erases them physically. Exact
  *     global-index rows also drop deleted uids at fold scope so
  *     driver-local candidate sets (and the count-only fast path, which
  *     never touches the event store) stay exact; lossy rows keep their
  *     count — they are candidate-superset-only and every candidate they
  *     produce re-verifies against the tombstone-filtered event view.
  *
  * DERIVED parts, optional at read with complete-coverage-or-rebuild
  * semantics:
  *
  *   - `doc_lengths` — per-document BM25 token lengths, per-doc rows →
  *     readers union + tombstone-mask like the other doc parts, so
  *     ranked serving on a live store reads materialized statistics
  *     (never re-tokenizes) and deletes drop a doc from dl/N/avgdl
  *     through the same version-ordered rule as everywhere else.
  *   - `reverse` / `trigram` — the suffix- and infix-probe access
  *     paths, written as PER-BATCH PROJECTIONS of the batch's global
  *     delta (reversed value / vocabulary grams), so the prefix probe
  *     pushes into the delta scans exactly as on a saved index. Readers
  *     fold `reverse` through the same merge-on-read as `global` (it is
  *     the same rows keyed by reversed value) and union+distinct
  *     `trigram` (vocabulary-set semantics; rows carry no doc ids, so a
  *     fully-deleted value is a harmless candidate superset until
  *     compaction erases it).
  *   - `field_postings` — positional postings of the fields a build
  *     declares in `offsetsFields`.
  *
  * Write amplification per micro-batch is O(|batch|) for every part at
  * any accumulated size; read amplification is bounded by compaction
  * cadence (`Compaction.compactEngine`).
  */
class LiveEngineMaintainer(
    spark: SparkSession,
    dir: String,
    numPartitions: Int,
    autoCompactEvery: Int = 0,
    /** Per-batch build declarations, passed straight to
      * `IndexBuilder.fromDocumentsTable`: derived event fields and the
      * subset that additionally stores positional postings
      * (`field_postings` — `f:near`/`f:onear`/`f:phrase` on declared
      * non-TEXT fields). Declarations are BUILD configuration and must
      * stay constant across the life of a store (like `numPartitions`):
      * each batch's metadata delta re-declares them, and a batch built
      * with different declarations would leave earlier/later docs
      * without the declared columns.
      */
    extraFields: Map[String, org.apache.spark.sql.Column] = Map.empty,
    offsetsFields: Set[String] = Set.empty,
    /** Query-time synonym equivalence sets, persisted ONCE at store
      * level (`<dir>/synonyms`, the batch `WikiIndex.save` layout —
      * sweep never touches non-v/c dirs, so it survives compaction)
      * and rehydrated into every `indexAt` snapshot: two sessions
      * serving the same live store must agree on expanded semantics,
      * the same argument that made synonyms index state for batch
      * stores. Like the build declarations above, this is store
      * configuration — the FIRST writer wins; a maintainer opened on a
      * store that already carries a synonyms table serves the STORED
      * table (pass Map.empty to inherit, the common case).
      */
    synonyms: Map[String, Seq[String]] = Map.empty,
    synonymFields: Set[String] = Set("TEXT"))
    // A round-8 store, or a crash window between the core commit and a
    // derived write, serves through WikiIndex's derived fallbacks; the
    // next `compactEngine` rebuilds every derived part from core data.
    extends VersionedStore(spark, dir, LiveEngineMaintainer.CoreParts, LiveEngineMaintainer.Tombstone)
    with StreamSink {

  import LiveEngineMaintainer._
  import VersionedState.{exists, withVer, write}

  private val synPath = s"$dir/synonyms"
  if (synonyms.nonEmpty && !exists(s"$synPath/_SUCCESS"))
    write(WikiIndex.synonymRows(spark, synonyms, synonymFields).coalesce(1), synPath)

  private def storeSynonyms: Option[DataFrame] =
    if (exists(s"$synPath/_SUCCESS")) Some(spark.read.parquet(synPath))
    else None

  /** The postings union with the `dl` COLUMN trusted only when EVERY
    * read-set dir carries it — the derived-part coverage rule applied
    * to a column. A migrated store unions round-8 postings deltas (no
    * dl) with later ones; trusting a partly-null dl would silently
    * score the legacy rows toward 0, so uncovered ⇒ drop the column and
    * ranked serving joins the doc_lengths view instead (same values).
    * The check is one driver-side footer read per read-set dir.
    */
  private def postingsUnion(v: ReadView): DataFrame = {
    val df = v.read("postings")
    if (!df.columns.contains("dl") || dlCovered(spark, v.paths("postings"))) df
    else df.drop("dl")
  }

  /** The full queryable store at the latest committed version — feed it
    * straight to `new WikiSearchEngine(spark, m.latestIndex.get)`.
    */
  def latestIndex: Option[WikiIndex] = indexAt(latestVersion)

  /** LSM TIME TRAVEL: the store exactly as of committed version `upTo`
    * — a consistent historical snapshot (ingests AND deletes after
    * `upTo` are invisible: the tombstone mask only sees markers in the
    * snapshot's own read set), servable by a `WikiSearchEngine` while
    * ingest continues. Reach is bounded by retention: a version whose
    * deltas were subsumed AND swept by a later compaction resolves to
    * no read set (None) — the standard LSM trade; pair with the
    * `keep`/grace sweep protocols to retain history windows.
    */
  def indexAt(upTo: Long): Option[WikiIndex] = {
    val v = viewAt(upTo)
    v.union("docs_fields").map { df =>
      val maskedFields = v.mask(df)
      val metadata = v.read("metadata").distinct()
      WikiIndex(
        docsFields = maskedFields,
        documents = v.mask(v.read("documents")),
        globalIndex = foldGlobal(withVer(v.read("global")), v.tombstones),
        metadata = metadata,
        termPostings = v.mask(postingsUnion(v)),
        storedEvents = v.masked("events"),
        // A derived part serves only when EVERY read-set dir carries it
        // (a partially-covered union would silently miss the uncovered
        // versions' rows); otherwise WikiIndex's derived forms, which
        // are always complete. reverse folds like global (same rows
        // keyed by reversed value); trigram is a vocabulary SET (dedup
        // on union).
        storedReverse = v.exact("reverse")(r => foldGlobal(withVer(r), v.tombstones)),
        storedTrigram = v.exact("trigram")(_.distinct()),
        storedDocLengths = v.exact("doc_lengths")(v.mask),
        // per-doc rows like postings: union the deltas and mask. A read
        // set not fully covered (a store predating the part, or a crash
        // window) REBUILDS the table from core data — the metadata
        // catalog says which fields are positional, so field-generic
        // proximity serves on any live store, never only batch-built
        // ones. Lazy either way; empty when nothing is declared.
        fieldPostings = Some(v.exact("field_postings")(v.mask)
          .getOrElse(IndexBuilder.deriveFieldPostings(maskedFields, metadata))),
        // store-level query-semantics state, version-independent: every
        // snapshot (including historical ones) serves the store's
        // synonym table, exactly as a loaded batch store would
        storedSynonyms = storeSynonyms)
    }
  }

  /** The non-tombstone parts of one version's delta (nine, plus
    * `field_postings` when the build declares `offsetsFields`), all
    * derived from the batch's own index build (the tombstone part
    * differs between the ingest and delete paths, so callers write it).
    * The `reverse`/`trigram` deltas are the SAME projections
    * `WikiIndex.save` persists, taken over the batch's global delta —
    * so a live store keeps the saved layout's pushed-prefix access
    * paths at O(|batch|) write amplification.
    */
  private def writeIndexParts(ix: WikiIndex, vdir: String): Unit = {
    write(ix.docsFields, s"$vdir/docs_fields")
    write(ix.documents, s"$vdir/documents")
    write(ix.globalIndex, s"$vdir/global")
    write(ix.termPostings, s"$vdir/postings")
    write(ix.events, s"$vdir/events")
    write(ix.metadata, s"$vdir/metadata")
    write(ix.docLengths, s"$vdir/doc_lengths")
    write(ix.globalIndex.withColumn("fieldValue", reverse(col("fieldValue"))),
      s"$vdir/reverse")
    write(WikiIndex.deriveTrigrams(ix.globalIndex), s"$vdir/trigram")
    // present exactly when the build declared offsetsFields — an
    // undeclared store simply never carries the part and the read side
    // derives (empty) from metadata
    ix.fieldPostings.foreach(fp => write(fp, s"$vdir/field_postings"))
  }

  /** One micro-batch: build the batch's index tables with the SAME
    * extraction as batch ingest and write each as this version's delta
    * (plus an empty tombstone part — the commit protocol requires every
    * part). Replay is idempotent (deltas depend only on the batch's rows).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    commit(batchId) { vdir =>
      writeIndexParts(IndexBuilder.fromDocumentsTable(
        batch.sparkSession, batch, numPartitions, extraFields, offsetsFields), vdir)
      write(emptyTombstones, s"$vdir/tombstones")
    }
    maybeCompact()
  }

  // Policy-driven major compaction (`Compaction.maybeCompact` dial, with
  // its one-cycle reader grace window). Doubles as the tombstone eraser:
  // deletes are applied physically in the new base; the deleted doc's
  // delta bytes are swept one cycle later.
  private def maybeCompact(): Unit =
    Compaction.maybeCompact(autoCompactEvery, this)(Compaction.engineFold)

  /** One DELETE micro-batch: `deletes` carries a `doc_id` column; this
    * version's delta is the tombstone rows plus empty doc parts (uniform
    * commit protocol). A tombstone masks every ingest of that doc in a
    * version ≤ its own; later re-ingest resurrects the doc. O(|deletes|)
    * bytes at any corpus size — the store is never rewritten here;
    * physical erasure happens at `Compaction.compactEngine`.
    */
  def processDeletes(deletes: DataFrame, batchId: Long): Unit = {
    commit(batchId) { vdir =>
      val s = deletes.sparkSession
      val tomb = deletes
        .withColumn("partition", pmod(col("doc_id"), lit(numPartitions)).cast("int"))
        .withColumn("docId", col("doc_id").cast("string"))
        .select("partition", "docId").distinct()
      writeIndexParts(IndexBuilder.fromDocumentsTable(
        s, VersionedState.emptyFrame(s, DocumentsSchema),
        numPartitions, extraFields, offsetsFields), vdir)
      write(tomb, s"$vdir/tombstones")
    }
    maybeCompact()
  }
}

object LiveEngineMaintainer {
  /** Core parts — one subdir per engine table; a version commits only
    * when every CORE part's `_SUCCESS` exists. Shared with
    * `Compaction.compactEngine`.
    */
  val CoreParts: Seq[String] =
    Seq("docs_fields", "documents", "global", "postings", "events", "metadata",
      "tombstones")

  /** Derived parts — projections of core data written with every new
    * delta, optional at read (see the class doc): per-doc BM25 lengths,
    * the reversed-value / vocabulary-gram access-path layouts, and the
    * declared-field positional postings (round 10; written only by
    * builds that declare `offsetsFields` — readers of an uncovered
    * store rebuild the table from docs_fields + the metadata catalog).
    */
  val DerivedParts: Seq[String] =
    Seq("doc_lengths", "reverse", "trigram", "field_postings")

  /** Every part a fully-equipped version dir carries. */
  val Parts: Seq[String] = CoreParts ++ DerivedParts

  /** The harness `documents` schema — the delete path needs it to write
    * schema-preserved empty doc parts.
    */
  val DocumentsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  /** Delete markers: (partition, docId); masking keys on docId. */
  private[streaming] val Tombstone =
    org.apache.spark.sql.types.StructType.fromDDL("partition INT, docId STRING")

  /** Every read-set postings dir carries the denormalized `dl` column
    * (one driver-side footer read per dir).
    */
  private[streaming] def dlCovered(spark: SparkSession, postings: Seq[String]): Boolean =
    postings.forall(p => spark.read.parquet(p).schema.fieldNames.contains("dl"))

  /** Merge-on-read fold of the global index under tombstones. EXACT
    * fragment rows are exploded to uids, masked version-ordered, and
    * re-grouped (count := live uid count) BEFORE the UidList merge — so
    * exact candidate sets, and everything derived from them (the
    * count-only fast path, driver-local IN predicates), never contain a
    * deleted doc. LOSSY rows pass through unchanged: their count cannot
    * be decremented (count-only by design) and never needs to be — they
    * are candidate-superset-only, re-verified against the masked event
    * view. The explode is bounded by the UidList contract (≤ MAX uids
    * per exact row), so this costs one extra co-keyed pass over
    * vocabulary-sized data, only on stores that HAVE tombstones.
    */
  private[streaming] def foldGlobal(raw: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs match {
      case None => IncrementalIndex.mergeAll(raw.drop("ver"))
      case Some(t) =>
        val lossy = raw.filter(col("ignore")).drop("ver")
        val exact = raw.filter(!col("ignore"))
          .select(col("fieldValue"), col("fieldName"), col("partition"),
            col("language"), col("ver"), explode(col("uids")).as("docId"))
        // re-group PER VERSION: the cross-version fold stays mergeAll's
        // (uids dedup, counts add), identical to the no-tombstone path
        val live = exact
          .join(t, exact("docId") === t("docId") && exact("ver") <= t("tver"), "left_anti")
          .groupBy("fieldValue", "fieldName", "partition", "language", "ver")
          .agg(array_sort(collect_list(col("docId"))).as("uids"))
          .select(col("fieldValue"), col("fieldName"), col("partition"), col("language"),
            size(col("uids")).cast("long").as("count"), col("uids"),
            lit(false).as("ignore"))
        IncrementalIndex.mergeAll(live.unionByName(lossy))
    }
}
