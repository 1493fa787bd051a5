package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live (incremental) maintenance for the mergeable-sketch family —
  * the LSM posture of the other maintainers applied to ANALYTICS state
  * instead of index state: each micro-batch folds into ONE fixed-size
  * partial count-min sketch (`Sketches.CmsAggregator` — the partial-agg
  * pass is the only corpus-touching work, O(|batch|) rows read, d·w
  * longs written), persisted as a `v<batchId>` delta of a single-part
  * [[VersionedStore]]. A read at version `upTo` merges the
  * read-set's rows DRIVER-SIDE — ≤(1 base + pending deltas) vectors of
  * d·w longs each, a sketch constant, never the corpus — so serving
  * cost is independent of both corpus and batch count after compaction.
  *
  * Because counter addition is associative and commutative, the merged
  * live sketch is BIT-IDENTICAL to the batch sketch over the union of
  * the batches under ANY batch split — the property `q38_live_cms`
  * pins on the correctness gate by serving q36's exact oracle from a
  * three-batch live store. That is the reference's combiner contract
  * (the same aggregator attached at ingest, minor-compaction, and scan
  * scope gives one consistent answer at any flush boundary,
  * WikipediaIngester.java:98-135) carried to sketch state.
  *
  * Time travel (`cmsAt(v)`), restart recovery, and the
  * compact-then-sweep protocol all come with the store. `compact()`
  * folds every committed version into a `c<latest>` base — after it, a
  * reader merges exactly one row until the next delta lands.
  */
class LiveSketchMaintainer(
    spark: SparkSession,
    dir: String,
    val d: Int = 4,
    val w: Int = 512,
    keyCol: String = "user_id") extends VersionedStore(spark, dir) with StreamSink {

  private val cms = udaf(new graft.functions.Sketches.CmsAggregator(d, w))

  /** Fold one micro-batch into a delta sketch. One partial-aggregable
    * pass over the batch (map-side combined d·w-long buffers are all
    * that shuffles); the delta is a single (version, sk) row.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    commit(batchId)(VersionedState.write(batch.agg(cms(col(keyCol)).as("sk")).coalesce(1), _))

  /** The merged sketch at version `upTo` (default: latest) — element-wise
    * sum over the read set's partial rows, driver-side over bounded
    * state. Returns the zero sketch for an empty store (no committed
    * version ≤ upTo): estimates are then 0, one-sidedly below nothing.
    * Maintenance/test path: lists the dir fresh; SERVING must read the
    * resolved snapshot's exact set via `cmsFor` instead.
    */
  def cmsAt(upTo: Long = Long.MaxValue): Seq[Long] =
    mergedAt(upTo)(merge).getOrElse(new Array[Long](d * w).toSeq)

  /** The merged sketch over EXACTLY the given read set (a resolved
    * `ServeSnapshot.keyAt`) — NO second directory listing, so a
    * compaction sweep landing between snapshot resolution and this read
    * cannot silently shrink the merge to the zero sketch: a swept path
    * is None, which the serving edge maps to its 404.
    */
  def cmsFor(key: (Option[Long], Seq[Long])): Option[Seq[Long]] = view(key).exact()(merge)

  private def merge(rows: DataFrame): Seq[Long] = {
    val acc = new Array[Long](d * w)
    rows.collect().foreach { r =>
      val sk = r.getSeq[Long](r.fieldIndex("sk"))
      var i = 0
      while (i < acc.length) { acc(i) += sk(i); i += 1 }
    }
    acc.toSeq
  }

  /** Fold every committed version into a `c<latest>` base of one row.
    * `deleteSubsumed = false` defers the sweep for a reader grace
    * window (`Compaction.sweepSubsumed(dir, Nil)` later).
    */
  def compact(deleteSubsumed: Boolean = true): Long = {
    import spark.implicits._
    majorCompact(deleteSubsumed)(Compaction.single(rows =>
      Seq(Tuple1(merge(rows))).toDF("sk").coalesce(1)))
  }
}

/** The bottom-k quantile twin of `LiveSketchMaintainer`, PER GROUP —
  * demonstrating the store is generic over associative sketches:
  * `qsMerge` (k-smallest-by-hash of a union = k-smallest of the
  * k-smallest) plays the role counter addition plays for CMS, so the
  * live per-group sample is bit-identical to the batch sample under
  * any batch split, and `q39_live_quantile` serves q37's oracle
  * verbatim. Each delta holds ≤|groups| rows of ≤k (hash, value)
  * pairs (the `BottomKSample` partial-emitting aggregator); reads
  * merge driver-side through the SAME `Sketches.qsMerge`/`qsFinish`
  * the batch aggregator folds with — one definition, three paths.
  * Contract: the group domain is bounded (a GROUP BY dimension, not a
  * key domain) — driver merge state is |groups|·k pairs.
  *
  * Batch schema: (g string, key long — unique per row, the sample
  * frame; v double).
  */
class LiveQuantileMaintainer(
    spark: SparkSession,
    dir: String,
    val k: Int = 512) extends VersionedStore(spark, dir) with StreamSink {

  import graft.functions.Sketches

  private val sample = udaf(new Sketches.BottomKSample(k), Sketches.longDoubleEnc)

  /** One partial-aggregable pass over the batch: per-group ≤k-pair
    * buffers are all that shuffles; the delta is ≤|groups| rows.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    commit(batchId)(VersionedState.write(
      batch.groupBy("g").agg(sample(col("key"), col("v")).as("sk")).coalesce(1), _))

  /** Per-group merged samples at version `upTo`, finished with the
    * rank-rule quantiles — driver-side over |groups|·k·versions pairs.
    * Maintenance/test path (fresh listing); serving reads the resolved
    * snapshot's exact set via `quantilesFor`.
    */
  def quantilesAt(upTo: Long = Long.MaxValue): Map[String, Sketches.QsOut] =
    mergedAt(upTo)(finish).getOrElse(Map.empty)

  /** Per-group quantiles over EXACTLY the given read set — the CMS
    * store's `cmsFor` contract (no second listing; a swept path is
    * None → the serving edge's 404, never a silently empty merge).
    */
  def quantilesFor(key: (Option[Long], Seq[Long])): Option[Map[String, Sketches.QsOut]] =
    view(key).exact()(finish)

  private def merge(rows: DataFrame): Map[String, Sketches.QsBuf] =
    rows.collect().map { r =>
      val sk = r.getStruct(r.fieldIndex("sk"))
      (r.getString(r.fieldIndex("g")),
        Sketches.QsBuf(sk.getSeq[Double](0), sk.getSeq[Double](1)))
    }.groupBy(_._1).map { case (g, bs) =>
      g -> bs.map(_._2).reduce(Sketches.qsMerge(_, _, k))
    }

  private def finish(rows: DataFrame): Map[String, Sketches.QsOut] =
    merge(rows).map { case (g, b) => g -> Sketches.qsFinish(b) }

  /** Fold every committed version into a `c<latest>` base (per-group
    * MERGED partials — NOT finished quantiles, so ingest continues to
    * merge past it). Same compact-then-sweep protocol as the CMS store.
    */
  def compact(deleteSubsumed: Boolean = true): Long = {
    import spark.implicits._
    majorCompact(deleteSubsumed)(Compaction.single(rows =>
      merge(rows).toSeq.sortBy(_._1).toDF("g", "sk").coalesce(1)))
  }
}
