package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live maintenance for the DSIR importance model — the third live
  * store mechanism, for state that is ADDITIVE but VOCABULARY-SIZED:
  * unlike the sketch stores (fixed-size partials, driver-side merge)
  * the per-batch partial here is a (token, cr, ct) count-table delta —
  * O(|batch vocabulary|) rows, never the corpus — and the read-side
  * merge is a DISTRIBUTED re-aggregation (union the read set, one
  * keyed integer sum), the `IncrementalIndex` merge-on-read posture
  * applied to model state. Because integer sums are associative and
  * commutative, the merged count table is BIT-IDENTICAL to the
  * one-pass batch table under any batch split, and the quantized model
  * derives from it through the SAME `Curation.dsirModel` the batch
  * operator uses — so `cu_live_dsir` serves `cu_dsir`'s oracle
  * verbatim. A streaming corpus thus refreshes its importance model
  * per micro-batch without ever re-scanning accumulated data.
  *
  * A single-part [[VersionedStore]]: `v<id>` count deltas, `c<k>` bases
  * (`compact()` folds the read set through the same keyed sum — a
  * DataFrame job, since the state is vocabulary-sized), time travel via
  * `modelAt(upTo)`.
  */
class LiveDsirModelMaintainer(
    spark: SparkSession,
    dir: String) extends VersionedStore(spark, dir, LiveDsirModelMaintainer.Kind) {

  import graft.pipeline.Curation
  import LiveDsirModelMaintainer.merge

  /** Fold one micro-batch of documents into a count-table delta. The
    * only corpus-touching work is the batch's own explode+count pass;
    * `isTarget` marks the batch rows that belong to the target
    * distribution. Replay of a committed id is a no-op (a delta depends
    * only on the batch's rows).
    */
  def processBatch(batch: DataFrame, isTarget: Column, batchId: Long): Unit =
    commit(batchId)(Seq("" -> Curation.dsirCounts(batch, isTarget)))

  /** The merged count table at version `upTo` — union of the read set
    * + one keyed integer sum (distributed; nothing driver-sized about
    * a vocabulary). Maintenance/test path (fresh listing); serving
    * reads the resolved snapshot's exact set via `modelFor`.
    */
  def countsAt(upTo: Long = Long.MaxValue): Option[DataFrame] = mergedAt(upTo)(merge)

  /** The merged count table over EXACTLY the given read set — the sketch
    * stores' `cmsFor` contract: no second listing, a swept path is None
    * (the serving edge's 404). The returned plan is LAZY; the `_SUCCESS`
    * precheck (and the eager path resolution in `spark.read`) closes the
    * silent-empty-merge window — a sweep racing the later job surfaces
    * as a task failure (500), never as a 200 from different state.
    */
  def countsFor(key: (Option[Long], Seq[Long])): Option[DataFrame] = view(key).exact()(merge)

  /** The quantized importance model at `upTo` — the SAME derivation the
    * batch operator uses (`Curation.dsirModel`), over the merged table.
    */
  def modelAt(upTo: Long = Long.MaxValue): Option[DataFrame] =
    countsAt(upTo).map(Curation.dsirModel)

  /** The model over EXACTLY the given read set (see `countsFor`). */
  def modelFor(key: (Option[Long], Seq[Long])): Option[DataFrame] =
    countsFor(key).map(Curation.dsirModel)
}

object LiveDsirModelMaintainer {
  private def merge(rows: DataFrame): DataFrame =
    rows.groupBy("token").agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))

  /** The DSIR store: one count table, folded by the same distributed
    * keyed sum the reads merge with.
    */
  private[streaming] val Kind = StoreKind(Compaction.single(merge))
}
