package graft.streaming

import graft.ingest.IndexBuilder

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live index maintenance from a document stream — the Spark-native
  * shape of the reference's LIVE ingest mode (streamed Mutations into
  * Accumulo with combiners merging at flush/compact/SCAN,
  * `WikipediaIngester.java:90-136` + SURVEY.md §2.10), as a Structured
  * Streaming `foreachBatch` loop over a single-part LSM-style
  * [[VersionedStore]]:
  *
  *   docs stream → per-batch DELTA postings (SAME extraction as batch
  *   ingest, `IndexBuilder.documentIndexRows`) → `v<batchId>/` holds
  *   ONLY that delta → readers union base + deltas and fold them
  *   through `IncrementalIndex.mergeAll` (merge-on-read) →
  *   `Compaction.compactIndex` periodically bounds read amplification.
  *
  * A micro-batch therefore writes O(|batch|) bytes at ANY accumulated
  * corpus size — never O(corpus). This mirrors the reference exactly:
  * Accumulo never rewrites the table per flush either; the
  * `GlobalIndexUidCombiner` is attached at scan scope too, so postings
  * merge lazily at read time and compactions fold them physically.
  * The merge is associative/commutative (A1's contract), so the read
  * view is EXACTLY the batch-built index of the union of all batches —
  * not an approximation; StreamingSpec pins this.
  *
  * Write-path cost: one keyed aggregation over the batch's postings.
  * Read-path cost: one co-keyed aggregation over base + N deltas; N is
  * bounded by compaction cadence (the same dial as Accumulo's
  * minor-compaction count before a major).
  */
class LiveIndexMaintainer(
    spark: SparkSession,
    dir: String,
    numPartitions: Int,
    autoCompactEvery: Int = 0)
    extends VersionedStore(spark, dir, LiveIndexMaintainer.Kind, autoCompactEvery) with StreamSink {

  /** Merged read view of the global index at the latest committed
    * version, if any batch has been processed yet: newest compacted
    * base + later deltas, folded through the lossy-UidList merge.
    */
  def latest: Option[DataFrame] = mergedAt(Long.MaxValue)(IncrementalIndex.mergeAll)

  /** One micro-batch of the maintenance loop (the `foreachBatch` body,
    * callable directly for tests and backfills).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    commit(batchId)(Seq("" -> IndexBuilder.buildGlobalIndex(
      IndexBuilder.documentIndexRows(batch, numPartitions))))
}

object LiveIndexMaintainer {
  /** The global-index store: one table, folded through the lossy-UidList
    * merge.
    */
  private[streaming] val Kind = StoreKind(Compaction.single(IncrementalIndex.mergeAll))
}
