package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Major compaction — the Spark shape of Accumulo's (`README.md:50-56`:
  * combiners fold at compact scope; minor flushes pile up files, a major
  * folds them into one). The routine itself is `VersionedStore.compact`
  * over the fold each store kind declares in its [[StoreKind]] (the
  * combiner at compact scope); this object holds the auto-compaction
  * dial, the compaction entries of the stores a CLI names, and the CLI.
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

  /** `VersionedStore.compact` of the store of `kind` at `dir`. */
  private def compact(spark: SparkSession, dir: String, kind: StoreKind,
      deleteSubsumed: Boolean): Long =
    new VersionedStore(spark, dir, kind).compact(deleteSubsumed)

  /** Compact the global-index maintainer's state at `dir`. */
  def compactIndex(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    compact(spark, dir, LiveIndexMaintainer.Kind, deleteSubsumed)

  /** Compact the near-dup maintainer's additive parts at `dir` (per-batch
    * `verdicts/` history is per-batch output, not corpus state —
    * untouched).
    */
  def compactDedup(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    compact(spark, dir, LiveNearDupMaintainer.Kind, deleteSubsumed)

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
    compact(spark, dir, LiveAnnMaintainer.kind(retrainCells), deleteSubsumed)

  /** Compact the full-engine maintainer's store at `dir`: additive
    * parts concatenate, the lossy `global` part folds through
    * `IncrementalIndex.mergeAll`, and the `metadata` catalog dedups —
    * each part's fold is exactly the read path's, so the compacted base
    * is read-equivalent by construction (StreamingSpec asserts it via
    * engine-result equality).
    */
  def compactEngine(spark: SparkSession, dir: String,
      deleteSubsumed: Boolean = true): Long =
    compact(spark, dir, LiveEngineMaintainer.Kind, deleteSubsumed)

  /** Auto-compaction policy gate, run by every commit (the Accumulo
    * dial: N minor flushes trigger a major). Folds `store` through its
    * kind's fold iff the policy is on (`every > 0`) and the count of
    * PENDING deltas — those above the newest committed base, i.e. the
    * read set's fold depth — has reached it (counting every committed
    * v-dir would let subsumed dirs still inside a grace window trigger a
    * major every batch).
    *
    * The auto path runs WITH a one-cycle reader grace period: the new
    * base is written without deleting what it subsumes, and only the
    * dirs the PREVIOUS base subsumed are swept — so a live reader whose
    * lazy plan still pins paths from the pre-compaction read set
    * survives the batch turn that compacted under it. The check is one
    * directory listing per batch; the fold runs inside the batch turn
    * (Accumulo's blocking major: size the dial like its compaction ratio).
    */
  private[streaming] def maybeCompact(every: Int, store: VersionedStore): Unit =
    if (every > 0) {
      val (bases, deltas) = VersionedState.committedSets(store.dir, store.parts)
      if (VersionedState.readSetFrom(bases, deltas, Long.MaxValue)._2.size >= every) {
        store.compact(deleteSubsumed = false)
        bases.lastOption.foreach(VersionedState.sweep(store.dir, store.parts, _))
      }
    }

  /** Deferred sweep for grace-period deployments
    * (`compactX(deleteSubsumed = false)` now, this after the reader grace
    * window): delete everything the NEWEST committed base subsumes.
    */
  def sweepSubsumed(dir: String, parts: Seq[String]): Unit =
    VersionedState.committedSets(dir, parts)._1.lastOption
      .foreach(VersionedState.sweep(dir, parts, _))

  /** CLI: `runMain graft.streaming.Compaction <index|dedup|engine|ann> <dir> [keep|sweep|retrain[=N]]`
    * — `keep` compacts but defers the delete of subsumed dirs (reader
    * grace period); `sweep` performs only that deferred delete, over the
    * kind's CORE parts (so it sees, and reclaims, round-8 dirs that carry
    * only core parts); `retrain` (ann only) re-sizes the IVF index during
    * the compaction (auto ~√n cells, or `retrain=N` explicit).
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
    val kinds = Map("index" -> LiveIndexMaintainer.Kind, "dedup" -> LiveNearDupMaintainer.Kind,
      "engine" -> LiveEngineMaintainer.Kind, "ann" -> LiveAnnMaintainer.kind())
    require(args.length >= 2 && args.length <= 3 && kinds.contains(args(0)) &&
        (args.length == 2 || Set("keep", "sweep")(args(2)) ||
          (args(0) == "ann" && retrainArg(args(2)).isDefined)),
      usage)
    val mode = if (args.length == 3) args(2) else "full"
    if (mode == "sweep") {
      sweepSubsumed(args(1), kinds(args(0)).parts)
      println(s"swept subsumed dirs under ${args(1)}")
      return
    }
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val del = mode != "keep"
    val through = compact(spark, args(1),
      retrainArg(mode).fold(kinds(args(0)))(LiveAnnMaintainer.kind), del)
    println(s"compacted ${args(1)} through v$through" +
      (if (del) "" else " (subsumed dirs kept; run with 'sweep' after the grace period)"))
    spark.stop()
  }
}
