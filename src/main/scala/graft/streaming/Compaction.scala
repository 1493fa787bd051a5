package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Major compaction — the Spark shape of Accumulo's (`README.md:50-56`:
  * combiners fold at compact scope; minor flushes pile up files, a major
  * folds them into one). The routine itself is
  * `VersionedStore.majorCompact`; this object holds each store's
  * per-part FOLD (the combiner at compact scope), the auto-compaction
  * dial and the CLI.
  *
  * Without compaction, read amplification grows linearly with committed
  * batches: the index reader folds N delta dirs per query and the dedup
  * reader unions N part dirs. Compacting `v_0..v_k` (plus any older
  * base) into one `c<k>/` base restores O(1) read cost; deltas after `k`
  * keep arriving — the maintainers never pause.
  *
  * Correctness: each part's fold is exactly the read path's (the index
  * fold is `IncrementalIndex.mergeAll`, exact at any granularity by the
  * lossy-UidList merge contract (A1); additive parts concatenate), so a
  * base is read-equivalent by construction and StreamingSpec pins it.
  * Tombstones are applied PHYSICALLY by every fold (the base carries an
  * empty tombstone part): after compaction no byte of a deleted row
  * remains in the base — the right-to-be-forgotten eraser the live
  * delete path defers to.
  */
object Compaction {

  /** A store's compaction fold: the read set to the base's (part,
    * table) pairs; `VersionedState.writeParts` writes the last pair
    * after all the others.
    */
  private[streaming] type Fold = ReadView => Seq[(String, DataFrame)]

  /** The fold of a single-part store: the read set's one table through
    * the store's combiner.
    */
  private[streaming] def single(merge: DataFrame => DataFrame): Fold =
    v => Seq("" -> merge(v.read()))

  /** Compact the global-index maintainer's state at `dir` through the
    * newest committed version. Returns the compacted-through version,
    * or -1 if there is nothing to compact.
    */
  def compactIndex(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    new VersionedStore(spark, dir).majorCompact(deleteSubsumed)(single(IncrementalIndex.mergeAll))

  /** Compact the near-dup maintainer's additive parts at `dir` (per-batch
    * `verdicts/` history is per-batch output, not corpus state —
    * untouched).
    */
  def compactDedup(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    new VersionedStore(spark, dir, LiveNearDupMaintainer.Parts, LiveNearDupMaintainer.Tombstone)
      .majorCompact(deleteSubsumed)(dedupFold)

  private[streaming] val dedupFold: Fold = v =>
    LiveNearDupMaintainer.Parts.map { p =>
      p -> (if (p == "tombstones") v.read(p).limit(0) else v.mask(v.read(p)))
    }

  /** Compact the ANN maintainer's assignment deltas at `dir`
    * (concatenation with tombstones applied physically).
    *
    * `retrainCells` re-sizes the IVF index while it has the full pass
    * in hand — the LIVE-store arm of the round-10 scaling fix (a cell
    * count frozen at first-batch size becomes the fixed-cells
    * quadratic trap once the store grows 100×):
    *  - 0 (default): keep the frozen centroids. If the read-set base
    *    carried a retrained centroid part, it is COPIED FORWARD into
    *    the new base, so a later default compaction never silently
    *    reverts a retrain.
    *  - `Similarity.AutoCells` (−1): retrain on the masked live
    *    vectors with ~√n cells (clamped [16, 4096]); > 0: explicit
    *    cell count. New centroids are written as a `centroids` PART of
    *    the compacted dir (before `tombstones`, the last core part, so
    *    the base is never visible without them) and every live vector
    *    is re-assigned under them; readers resolve centroids base-first (see
    *    `LiveAnnMaintainer.centroids`), store-level `<dir>/centroids`
    *    remains the pre-retrain fallback. PQ codes are cell-independent
    *    (subspace quantizers), so the codes rebuild is unchanged.
    *    Ingest should be quiescent across a RETRAIN compaction: a
    *    delta racing the retrain keeps old-geometry cell ids (recall
    *    loss for those vectors, never wrong results) until the next
    *    compaction folds and re-assigns it. A retrain lands in a NEW
    *    c-dir, so it needs a delta above the newest base.
    */
  def compactAnn(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true, retrainCells: Int = 0): Long =
    new VersionedStore(spark, dir, LiveAnnMaintainer.CoreParts, LiveAnnMaintainer.Tombstone)
      .majorCompact(deleteSubsumed)(annFold(retrainCells))

  // committed-version detection keys on the CORE parts (a round-8 store
  // has no codes part anywhere); the codes base is REBUILT from the
  // masked assignments whenever PQ books exist — encodePq is
  // deterministic per vector, so the rebuild is row-identical to folding
  // the code deltas AND it covers vectors ingested before PQ was
  // enabled: compaction is the migration that graduates any store to
  // full IVF-PQ coverage. No books ⇒ schema-preserved empty base.
  private[streaming] def annFold(retrainCells: Int): Fold = v => {
    import graft.pipeline.Similarity
    val spark = v.spark
    val books = LiveAnnMaintainer.readBooks(spark, v.dir)
    // the masked assignment union feeds BOTH the assigned base and the
    // codes re-encode — cache it so the store's largest table is read
    // and tombstone-masked once (the foldedGlobal discipline)
    val maskedAssigned0 = v.cached(v.mask(v.read("assigned")))
    // resolve the retrain FIRST: the re-assigned rows feed both the
    // assigned base and the codes re-encode below
    val newCents: Option[Seq[(Int, Seq[Double])]] =
      if (retrainCells == 0) None
      else {
        val live = maskedAssigned0.select("vec_id", "embedding")
        val k =
          if (retrainCells > 0) retrainCells
          else Similarity.autoCellCount(live.count())
        Some(Similarity.trainIvf(live, k).zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq)
      }
    val maskedAssigned = newCents.fold(maskedAssigned0)(cs =>
      v.cached(Similarity.assignIvf(cs.sortBy(_._1).map(_._2.toArray).toArray,
        maskedAssigned0.select("vec_id", "embedding"))))
    // the centroid part is never the last one: the base must never
    // become visible (core parts committed) without the centroids its
    // assignments assume, and `writeParts` writes `tombstones`, the
    // last part, only after every other part has committed. A retrain
    // writes the new set; otherwise a base-carried part is copied
    // forward so later compactions preserve an earlier retrain.
    val carryCents: Option[DataFrame] = newCents match {
      case Some(cs) =>
        import spark.implicits._
        Some(cs.toDF("cell", "centroid"))
      case None =>
        v.paths("centroids").filter(p => VersionedState.exists(s"$p/_SUCCESS"))
          .lastOption.map(spark.read.parquet(_)) // newest carried set
    }
    carryCents.map(c => "centroids" -> c.coalesce(1)).toSeq ++
      LiveAnnMaintainer.Parts.map { p =>
        p -> (p match {
          case "assigned" => maskedAssigned // per-vector rows — erase deleted physically
          case "codes" => books.fold(LiveAnnMaintainer.emptyCodes(spark))(b =>
            Similarity.encodePq(b, maskedAssigned.select("vec_id", "embedding")))
          case _ => v.read(p).limit(0) // tombstones: applied above; base is clean
        })
      }
  }

  /** Compact the full-engine maintainer's store at `dir`: additive
    * parts concatenate, the lossy `global` part folds through
    * `IncrementalIndex.mergeAll`, and the `metadata` catalog dedups —
    * each part's fold is exactly the read path's, so the compacted base
    * is read-equivalent by construction (StreamingSpec asserts it via
    * engine-result equality).
    */
  def compactEngine(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    new VersionedStore(spark, dir, LiveEngineMaintainer.CoreParts, LiveEngineMaintainer.Tombstone)
      .majorCompact(deleteSubsumed)(engineFold)

  // committed-version detection keys on the CORE parts: a round-8 store
  // (no derived parts anywhere) compacts fine — this fold never READS
  // the derived parts, it rebuilds them from core data, so compaction
  // doubles as the migration that graduates any old store to the full
  // layout. The folded, masked core tables form one `WikiIndex`, written
  // through the micro-batch's part list.
  private[streaming] val engineFold: Fold = v => {
    import graft.ingest.{IndexBuilder, WikiIndex}
    // The folded global feeds three parts (global, reverse, trigram), so
    // it is cached and folded once. The masked per-doc tables, each a
    // scan plus at most a tombstone anti-join, are read by every part
    // that needs them: the parts are written at the same time, and a
    // cache would cost a job to fill before them.
    // reverse/trigram are REBUILT from the folded global, in `save`'s
    // sorted layout: the fold commutes with the value reversal, and a
    // deleted document's vocabulary grams must not survive in the base.
    val foldedGlobal = v.cached(
      LiveEngineMaintainer.foldGlobal(VersionedState.withVer(v.read("global")), v.tombstones))
    val maskedFields = v.mask(v.read("docs_fields"))
    val metadata = v.read("metadata").distinct()
    val ix = WikiIndex(maskedFields, v.mask(v.read("documents")), foldedGlobal,
      metadata, v.mask(v.read("postings")),
      storedEvents = Some(v.mask(v.read("events"))),
      storedReverse = Some(WikiIndex.sortedReverse(foldedGlobal)),
      storedTrigram = Some(WikiIndex.sortedTrigrams(foldedGlobal)),
      // the metadata catalog's kind-p rows drive the rebuild
      fieldPostings = Some(IndexBuilder.deriveFieldPostings(maskedFields, metadata)))
    // The postings base keeps the read set's `dl` column only when EVERY
    // read-set dir has it (`LiveEngineMaintainer.postingsUnion`'s
    // coverage rule); otherwise it joins the exact per-doc lengths, so
    // a round-8 or mixed store never persists a null dl into the base.
    val base =
      if (LiveEngineMaintainer.dlCovered(v.spark, v.paths("postings"))) ix
      else ix.copy(
        termPostings = ix.termPostings.drop("dl")
          .join(ix.docLengths, Seq("partition", "language", "docId")),
        storedDocLengths = Some(ix.docLengths))
    // tombstones are applied above; the base is clean
    LiveEngineMaintainer.indexParts(base, v.read("tombstones").limit(0))
  }

  /** Auto-compaction policy gate for the maintainers (the Accumulo
    * dial: N minor flushes trigger a major). Folds `store` iff the
    * policy is on (`every > 0`) and the count of PENDING deltas — those
    * above the newest committed base, i.e. the read set's fold depth —
    * has reached it (counting every committed v-dir would let subsumed
    * dirs still inside a grace window trigger a major every batch).
    *
    * The auto path runs WITH a one-cycle reader grace period: the new
    * base is written without deleting what it subsumes, and only the
    * dirs the PREVIOUS base subsumed are swept — so a live reader whose
    * lazy plan still pins paths from the pre-compaction read set
    * survives the batch turn that compacted under it. The check is one
    * directory listing per batch. Returns whether a compaction ran.
    */
  private[streaming] def maybeCompact(every: Int, store: VersionedStore)(fold: Fold): Boolean =
    every > 0 && {
      val (bases, deltas) = VersionedState.committedSets(store.dir, store.parts)
      VersionedState.readSetFrom(bases, deltas, Long.MaxValue)._2.size >= every && {
        store.majorCompact(deleteSubsumed = false)(fold)
        bases.lastOption.foreach(VersionedState.sweep(store.dir, store.parts, _))
        true
      }
    }

  /** Deferred sweep for grace-period deployments
    * (`compactX(deleteSubsumed = false)` now, this after the reader grace
    * window): delete everything the NEWEST committed base subsumes.
    */
  def sweepSubsumed(dir: String, parts: Seq[String]): Unit =
    VersionedState.committedSets(dir, parts)._1.lastOption
      .foreach(VersionedState.sweep(dir, parts, _))

  /** Part lists for CLI commit-detection and sweeping — the CORE sets
    * for the stores that grew optional derived parts, so the sweep verb
    * sees (and reclaims) round-8 dirs that carry only core parts.
    */
  private def partsOf(kind: String): Seq[String] = kind match {
    case "index"  => Nil
    case "dedup"  => LiveNearDupMaintainer.Parts
    case "engine" => LiveEngineMaintainer.CoreParts
    case "ann"    => LiveAnnMaintainer.CoreParts
    case other    => throw new IllegalArgumentException(
      s"unknown store kind '$other': usage: Compaction <index|dedup|engine|ann> <stateDir> [keep|sweep]")
  }

  /** CLI: `runMain graft.streaming.Compaction <index|dedup|engine|ann> <dir> [keep|sweep|retrain[=N]]`
    * — `keep` compacts but defers the delete of subsumed dirs (reader
    * grace period); `sweep` performs only that deferred delete;
    * `retrain` (ann only) re-sizes the IVF index during the compaction
    * (auto ~√n cells, or `retrain=N` explicit).
    */
  def main(args: Array[String]): Unit = {
    val usage = "usage: Compaction <index|dedup|engine|ann> <stateDir> [keep|sweep|retrain[=N]]"
    // retrain parses STRICTLY before any Spark work: "retrained" or
    // "retrain=4O" must die with the usage line, not silently trigger
    // (or crash mid-) an expensive geometry-changing compaction
    def retrainArg(m: String): Option[Int] = m.split("=", -1) match {
      case Array("retrain")    => Some(graft.pipeline.Similarity.AutoCells)
      case Array("retrain", n) => n.toIntOption.filter(_ > 0)
      case _                   => None
    }
    require(args.length >= 2 && args.length <= 3 &&
        Set("index", "dedup", "engine", "ann")(args(0)) &&
        (args.length == 2 || Set("keep", "sweep")(args(2)) ||
          (args(0) == "ann" && retrainArg(args(2)).isDefined)),
      usage)
    val mode = if (args.length == 3) args(2) else "full"
    if (mode == "sweep") {
      sweepSubsumed(args(1), partsOf(args(0)))
      println(s"swept subsumed dirs under ${args(1)}")
      return
    }
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val del = mode != "keep"
    val through = args(0) match {
      case "index"  => compactIndex(spark, args(1), del)
      case "dedup"  => compactDedup(spark, args(1), del)
      case "engine" => compactEngine(spark, args(1), del)
      case "ann" =>
        compactAnn(spark, args(1), del,
          retrainCells = retrainArg(mode).getOrElse(0))
    }
    println(s"compacted ${args(1)} through v$through" +
      (if (del) "" else " (subsumed dirs kept; run with 'sweep' after the grace period)"))
    spark.stop()
  }
}
