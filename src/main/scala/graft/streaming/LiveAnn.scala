package graft.streaming

import graft.pipeline.Similarity
import graft.pipeline.Similarity.{IvfIndex, PqIndex}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Live IVF ANN maintenance — the embedding-store face of the
  * delta-based streaming posture: a growing vector corpus is assigned
  * to a FROZEN trained codebook shard-by-shard, and each micro-batch
  * writes only its own assignments (O(|batch|) at any accumulated
  * size). This is the standard production ANN shape: train centroids
  * once (or offline on a sample), assign incrementally forever,
  * retrain out-of-band when drift warrants a new store.
  *
  * Exactness: nearest-centroid assignment is deterministic PER VECTOR
  * given the centroids (`Similarity.assignIvf`), so incremental
  * assignment is row-identical to assigning the union corpus in one
  * batch — not an approximation of it; StreamingSpec pins
  * `ivfTopKWith` result equality. (Contrast the dedup maintainer,
  * whose per-batch verdicts are order-dependent by design.)
  *
  * Layout ([[VersionedStore]]): centroids live ONCE at `<dir>/centroids`
  * (k×dim — driver/broadcast sized; written with the same forced
  * `_SUCCESS` commit), trained on the first batch if absent; each
  * version's `assigned` part is that batch's delta; readers union
  * base+deltas (purely additive — no fold), `Compaction.compactAnn`
  * concatenates version ranges.
  *
  * `pqM > 0` additionally maintains a LIVE IVF-PQ serving path: product
  * quantizer codebooks train once on the first batch (frozen at
  * `<dir>/pq_books`, like the centroids), every batch's `codes` part is
  * that batch's `Similarity.encodePq` delta (deterministic per vector
  * under frozen books — incremental encoding is row-identical to
  * encoding the union), and `latestPq` + `latestIndex` feed
  * `Similarity.ivfPqTopK` directly. With `pqM == 0` the `codes` part is
  * written schema-preserved empty (uniform commit protocol) and
  * `latestPq` is None. Tombstones mask codes exactly like assignments.
  */
class LiveAnnMaintainer(
    spark: SparkSession,
    dir: String,
    cells: Int = 16,
    iters: Int = 2,
    autoCompactEvery: Int = 0,
    pqM: Int = 0,
    pqK: Int = 16)
    // Commit protocol keys on the CORE parts (assigned, tombstones); the
    // `codes` part is optional at read — a round-8 store (no codes part
    // anywhere) serves flat IVF untouched, and `compactAnn` rebuilds the
    // codes base from the masked assignments whenever books exist, so
    // one compaction graduates any store to full IVF-PQ coverage.
    extends VersionedStore(spark, dir, LiveAnnMaintainer.kind(), autoCompactEvery)
    with StreamSink with Deletes {

  import LiveAnnMaintainer.{emptyCodes, readBooks, AssignedSchema}
  import VersionedState.{exists, write}

  /** The current centroid set, resolved BASE-FIRST: a compaction that
    * retrained (`Compaction.compactAnn(retrainCells = …)`) writes the
    * new set as a `centroids` part of the compacted dir — the
    * assignments in that base assume it, so it must win over the
    * store-level `<dir>/centroids` (the first-batch frozen set, which
    * remains the fallback for never-retrained stores). Deltas ingested
    * after a retrain resolve through the same rule, so their
    * assignments use the live geometry. Not memoized: the set can
    * change at any compaction.
    */
  def centroids: Option[Array[Array[Double]]] = centroidsFor(snapshotKey(latestVersion))

  /** Centroid set for an ALREADY-RESOLVED read set — base-first (a
    * retrained base's geometry wins over the store-level frozen set,
    * which stays the fallback), no fresh listing. This is what makes
    * historical serving consistent: the assignments in a read set and
    * the centroids that read set resolves always belong together.
    */
  def centroidsFor(key: (Option[Long], Seq[Long])): Option[Array[Array[Double]]] = {
    val fromBase = view(key).paths("centroids").find(p => exists(s"$p/_SUCCESS"))
    val path = fromBase.getOrElse(s"$dir/centroids")
    if (!exists(s"$path/_SUCCESS")) return None
    Some(spark.read.parquet(path)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2))
  }

  /** The frozen PQ codebooks (`books(m)(c)` = codeword c of subspace m),
    * if PQ is on and trained. Frozen by design, so the parquet read +
    * collect happens once per maintainer and memoizes — not once per
    * micro-batch on the ingest latency path.
    */
  @volatile private var cachedBooks: Option[Array[Array[Array[Double]]]] = None

  def pqBooks: Option[Array[Array[Array[Double]]]] =
    cachedBooks.orElse {
      val books = readBooks(spark, dir)
      if (books.isDefined) cachedBooks = books
      books
    }

  /** The queryable IVF index at the latest committed version — feed it
    * to `Similarity.ivfTopKWith`. Tombstoned vectors are masked
    * version-ordered (the engine store's delete posture, keyed on
    * vec_id): a vector re-embedded AFTER its tombstone serves again.
    */
  def latestIndex: Option[IvfIndex] =
    centroids.flatMap(cents => viewAt(latestVersion).masked("assigned").map(IvfIndex(cents, _)))

  /** The queryable IVF index at a COMMITTED version ≤ `upTo` (time
    * travel — the engine store's `indexAt` for the ANN store): the
    * tombstone-masked union of the read set at that version, under the
    * centroids that read set resolves. A tombstone committed AFTER the
    * version is not part of its read set, so a vector deleted later
    * still serves in the historical index — the snapshot answers "what
    * did the index serve at v", not "latest minus nothing". None when
    * no version ≤ upTo is committed (or the set was swept).
    */
  def indexAt(upTo: Long): Option[IvfIndex] = indexFor(snapshotKey(upTo))

  /** `indexAt` over an ALREADY-RESOLVED read set (a `ServeSnapshot.
    * keyAt`) — the serving path's form: no second listing, and a
    * compaction sweeping the set between snapshot resolution and this
    * read yields None (the serving edge's 404), never an index built
    * from different state.
    */
  def indexFor(key: (Option[Long], Seq[Long])): Option[IvfIndex] =
    try centroidsFor(key).flatMap { cents =>
      val v = view(key)
      v.exact("assigned")(v.mask).map(IvfIndex(cents, _))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** The queryable PQ index at the latest committed version — compose
    * with `latestIndex` into `Similarity.ivfPqTopK` for live IVF-PQ
    * serving. None until PQ trained its books, and None when any
    * read-set dir lacks the codes part (a partially-covered union would
    * silently exclude those versions' vectors from ANN results — serve
    * flat IVF until `compactAnn` rebuilds full coverage instead).
    */
  def latestPq: Option[PqIndex] =
    pqBooks.flatMap { books =>
      val v = viewAt(latestVersion)
      v.exact("codes")(v.mask).map(PqIndex(books, _))
    }

  /** vec_ids already carrying a LIVE code in the existing codes parts
    * (a round-8 dir simply has no codes path — skipped, not an error):
    * the coverage-reconciliation probe for the first-PQ-batch backfill.
    * The probe is tombstone-MASKED, version-ordered: a vector deleted
    * and later re-ingested has only a stale pre-tombstone code row,
    * which must not suppress its backfill (its live assignment row has
    * no live code).
    */
  private def codedVecIds: DataFrame = {
    val v = viewAt(latestVersion)
    val ps = v.paths("codes").filter(p => exists(s"$p/_SUCCESS"))
    if (ps.isEmpty) emptyCodes(spark).select("vec_id")
    else v.mask(spark.read.parquet(ps: _*)).select("vec_id")
  }

  /** One micro-batch of embeddings (vec_id, embedding). The first
    * committed batch trains the codebook; every batch (including the
    * first) writes only its own assignment delta. Replay is idempotent
    * (assignment depends only on the batch's rows + the frozen
    * centroids).
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    commit(batchId) {
      val cents = centroids.getOrElse {
        // cells = Similarity.AutoCells sizes from the FIRST batch
        // (~√n clamped [16, 4096]); as the store outgrows that, a
        // `compactAnn(retrainCells = AutoCells)` re-sizes with the
        // full pass in hand — frozen-between-compactions, not
        // frozen-forever (the round-10 fixed-cells audit finding).
        val k =
          if (cells > 0) cells
          else Similarity.autoCellCount(batch.count())
        val trained = Similarity.trainIvf(batch, k, iters)
        import spark.implicits._
        write(trained.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("cell", "centroid").coalesce(1), s"$dir/centroids")
        trained
      }
      val codesDelta =
        if (pqM <= 0) emptyCodes(spark)
        else {
          // Coverage reconciliation is keyed on "first PQ batch of THIS
          // maintainer instance" (cachedBooks empty), NOT on pq_books
          // absence: a crash-replay of the enabling batch finds the
          // books already on disk, and offline-trained books never see
          // a train step at all — both must still backfill, or
          // pre-enable vectors stay invisible to IVF-PQ serving. Steady
          // state (books cached in-memory) encodes only the batch.
          val firstPqBatch = cachedBooks.isEmpty
          val books = pqBooks.getOrElse {
            val trained = Similarity.trainPq(batch, pqM, pqK, iters)
            import spark.implicits._
            write(trained.zipWithIndex.flatMap { case (book, mi) =>
              book.zipWithIndex.map { case (cw, ci) => (mi, ci, cw.toSeq) }
            }.toSeq.toDF("m", "code", "codeword").coalesce(1), s"$dir/pq_books")
            cachedBooks = Some(trained)
            trained
          }
          val fresh = batch.select("vec_id", "embedding")
          if (!firstPqBatch) Similarity.encodePq(books, fresh)
          else {
            // one anti-join of vec_id columns per maintainer lifetime:
            // encode the batch plus every live vector not yet coded
            // (read set BEFORE this version commits). O(store) once at
            // enable/restart; a fully-covered store contributes nothing.
            val uncoded = viewAt(latestVersion).masked("assigned").map { asg =>
              asg.select("vec_id", "embedding")
                .join(codedVecIds, Seq("vec_id"), "left_anti")
                .join(fresh.select("vec_id"), Seq("vec_id"), "left_anti")
            }
            Similarity.encodePq(books,
              uncoded.map(_.unionByName(fresh)).getOrElse(fresh))
          }
        }
      Seq("assigned" -> Similarity.assignIvf(cents, batch), "codes" -> codesDelta,
        "tombstones" -> emptyTombstones)
    }

  // A delete batch carries a `vec_id` column; re-embedding after the
  // tombstone resurrects the vector. The frozen codebook is store-level
  // state and never folds.
  protected def emptyParts: Seq[(String, DataFrame)] =
    Seq("assigned" -> VersionedState.emptyFrame(spark, AssignedSchema), "codes" -> emptyCodes(spark))
}

object LiveAnnMaintainer {
  /** Core parts — commit detection keys on these; the codebooks are
    * store-level state, not versioned (frozen by design).
    */
  val CoreParts: Seq[String] = Seq("assigned", "tombstones")

  /** The frozen PQ codebooks at `<dir>/pq_books`, decoded to
    * `books(m)(c)` — ONE loader shared by the maintainer and
    * `Compaction.compactAnn` so the layout cannot drift between them.
    */
  def readBooks(spark: SparkSession, dir: String): Option[Array[Array[Array[Double]]]] = {
    if (!VersionedState.exists(s"$dir/pq_books/_SUCCESS")) None
    else {
      val rows = spark.read.parquet(s"$dir/pq_books")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      Some(rows.groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3)))
    }
  }

  /** Full per-version part set: core + the PQ `codes` delta (round-9
    * addition — schema-preserved empty when PQ is off, optional at
    * read for round-8 stores).
    */
  val Parts: Seq[String] = Seq("assigned", "codes", "tombstones")

  /** Schema of an `assigned` delta (the delete path writes an empty one
    * so the commit protocol stays uniform across version kinds).
    */
  private val AssignedSchema =
    StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT, nrm DOUBLE")

  /** Schema-preserved empty `codes` delta (PQ off, and the delete path). */
  private[streaming] def emptyCodes(s: SparkSession): DataFrame = VersionedState.emptyFrame(s,
    StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, code ARRAY<INT>"))

  /** The ANN store: delete markers keyed on vec_id, and a fold that
    * concatenates the assignments with tombstones applied physically,
    * re-sizing the IVF index when `retrainCells` ≠ 0
    * (`Compaction.compactAnn`).
    *
    * Committed-version detection keys on the CORE parts (a round-8 store
    * has no codes part anywhere); the codes base is REBUILT from the
    * masked assignments whenever PQ books exist — encodePq is
    * deterministic per vector, so the rebuild is row-identical to
    * folding the code deltas AND it covers vectors ingested before PQ
    * was enabled: compaction is the migration that graduates any store
    * to full IVF-PQ coverage. No books ⇒ schema-preserved empty base.
    */
  private[streaming] def kind(retrainCells: Int = 0): StoreKind = StoreKind(v => {
    val spark = v.spark
    val books = readBooks(spark, v.dir)
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
      Parts.map { p =>
        p -> (p match {
          case "assigned" => maskedAssigned // per-vector rows — erase deleted physically
          case "codes" => books.fold(emptyCodes(spark))(b =>
            Similarity.encodePq(b, maskedAssigned.select("vec_id", "embedding")))
          case _ => v.read(p).limit(0) // tombstones: applied above; base is clean
        })
      }
  }, CoreParts, StructType.fromDDL("vec_id BIGINT"))
}
