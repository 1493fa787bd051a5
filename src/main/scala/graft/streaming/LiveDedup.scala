package graft.streaming

import graft.pipeline.Dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-duplicate dedup at ingest — the Structured Streaming
  * face of `Dedup.minhashPairsIncremental`, completing §2.10's dedup
  * story: `EventStreams.dedupStream` drops EXACT duplicates inside the
  * watermark with bounded built-in state; this maintainer drops
  * NEAR-duplicates against the whole accumulated corpus, holding its
  * state not in the stream (unbounded keyed state is the shape a
  * 100 TB pipeline must not hold) but as the persisted LSH artifacts
  * the incremental batch operator already defines — the kept docs,
  * their shingle-hash sets (verify side), and their minhash band table
  * (candidate side), as immutable versioned snapshots.
  *
  * Per micro-batch: fresh-side sets/bands are computed ONCE (the only
  * signature work — the corpus tables are read back, never recomputed),
  * `Dedup.minhashPairsFromParts` yields the fresh×fresh + corpus×fresh
  * pair list (corpus×corpus never formed), and verdicts follow the same
  * component rule as batch `dedupClusters`: a fresh doc DROPS iff its
  * LSH-τ connected component (over pairs touching this batch) contains
  * a kept-corpus doc or a lower-id batch doc; otherwise it KEEPS and
  * its artifacts merge into the next snapshot. Chains inside a batch
  * collapse to one keeper (cluster keep-first, exactly `dd_cluster`'s
  * rule); docs kept by an earlier batch are never revoked — the online
  * contract batch ingestion needs.
  *
  * Commit protocol and layout are the shared [[VersionedStore]]'s (a
  * version counts only when EVERY part committed, so a crash between
  * part writes leaves no readable version). Dedup artifacts are purely
  * ADDITIVE — kept docs are only ever appended — so each version dir
  * holds ONLY its batch's
  * kept delta, reads just union base + deltas (no fold needed, unlike
  * the index's lossy-UidList merge-on-read), and a micro-batch writes
  * O(|batch|) — never O(corpus) — at any accumulated size.
  * `Compaction.compactDedup` periodically folds version ranges into
  * one base dir, the standard LSM posture.
  */
class LiveNearDupMaintainer(
    spark: SparkSession,
    dir: String,
    tau: Double = 0.6,
    bands: Int = 32,
    shingleN: Int = 3,
    autoCompactEvery: Int = 0)
    extends VersionedStore(spark, dir, LiveNearDupMaintainer.Parts, LiveNearDupMaintainer.Tombstone)
    with StreamSink {

  import VersionedState.write

  /** The KEPT corpus (deduped documents): union of committed deltas,
    * minus tombstoned docs.
    */
  def latest: Option[DataFrame] = viewAt(latestVersion).masked("docs")

  /** Keep/drop verdicts for one committed batch (doc_id, verdict). */
  def verdictsFor(batchId: Long): DataFrame =
    spark.read.parquet(s"$dir/verdicts/v$batchId")

  /** One micro-batch of the filtering loop (the `foreachBatch` body,
    * callable directly for tests and backfills).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    commit(batchId) { vdir =>
      val b = batch.cache()
      // Corpus state visible to a (re)played batch: everything
      // committed strictly below its id (merging a replayed delta
      // against its own output would double-count; basing on the
      // predecessor makes the write idempotent).
      val corpus = viewAt(batchId - 1)
      val setsNew = Dedup.shingleSets(b, shingleN).cache()
      val bandsNew = Dedup.minhashBands(setsNew, bands).cache()
      val setsOld = corpus.masked("sets").getOrElse(setsNew.limit(0))
      val bandsOld = corpus.masked("bands").getOrElse(bandsNew.limit(0))
      val pairs = Dedup.minhashPairsFromParts(
        setsOld, bandsOld, setsNew, bandsNew, tau)

      val freshIds = b.select(col("doc_id"))
      val comp = Dedup.connectedComponents(pairs.select("a", "b"))
      // components with a member OUTSIDE this batch touch the kept
      // corpus (pairs only ever reference corpus ∪ batch docs)
      val corpusComps = comp.join(freshIds, Seq("doc_id"), "left_anti")
        .select("component").distinct()
      val freshComp = comp.join(freshIds, Seq("doc_id"))
      val keepers = freshComp.join(corpusComps, Seq("component"), "left_anti")
        .groupBy("component").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val dropIds = freshComp.join(keepers, Seq("doc_id"), "left_anti")
        .select("doc_id").distinct().cache()

      val verdicts = freshIds
        .join(dropIds.withColumn("dropped", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("dropped"), lit("drop")).otherwise(lit("keep")).as("verdict"))
      write(verdicts, s"$dir/verdicts/v$batchId")

      // delta-only writes: this batch's keepers, O(|batch|) bytes
      val keptIds = freshIds.join(dropIds, Seq("doc_id"), "left_anti")
      write(setsNew.join(keptIds, Seq("doc_id"), "left_semi"), s"$vdir/sets")
      write(bandsNew.join(keptIds, Seq("doc_id"), "left_semi"), s"$vdir/bands")
      write(b.join(dropIds, Seq("doc_id"), "left_anti"), s"$vdir/docs")
      write(emptyTombstones, s"$vdir/tombstones")
      Seq(b, setsNew, bandsNew, dropIds).foreach(_.unpersist())
    }
    maybeCompact()
  }

  // Policy-driven major compaction (`Compaction.maybeCompact` dial) —
  // also the tombstone eraser; per-batch `verdicts/` history is
  // untouched, only corpus state folds.
  private def maybeCompact(): Unit =
    Compaction.maybeCompact(autoCompactEvery, this)(Compaction.dedupFold)

  /** One DELETE micro-batch: `deletes` carries a `doc_id` column. The
    * corpus-state contract of the other stores — O(|deletes|) tombstone
    * bytes; the doc's text AND its LSH artifacts (sets/bands) stop
    * matching at read scope; physical removal at
    * `Compaction.compactDedup`. Already-written verdicts are history
    * (per-batch output), untouched.
    */
  def processDeletes(deletes: DataFrame, batchId: Long): Unit = {
    commit(batchId) { vdir =>
      val emptyDocs = VersionedState.emptyFrame(spark, LiveEngineMaintainer.DocumentsSchema)
      write(emptyDocs, s"$vdir/docs")
      write(Dedup.shingleSets(emptyDocs, shingleN), s"$vdir/sets")
      write(Dedup.minhashBands(Dedup.shingleSets(emptyDocs, shingleN), bands), s"$vdir/bands")
      write(deletes.select("doc_id").distinct(), s"$vdir/tombstones")
    }
    maybeCompact()
  }
}

object LiveNearDupMaintainer {
  /** The additive state parts of a committed version: kept docs, their
    * shingle-hash sets (verify side), their minhash band table
    * (candidate side), plus delete markers. Shared with `Compaction`.
    */
  val Parts: Seq[String] = Seq("docs", "sets", "bands", "tombstones")

  private[streaming] val Tombstone = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT")
}
