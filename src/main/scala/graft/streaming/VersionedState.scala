package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One resolved serving snapshot (`VersionedStore.serveSnapshot`):
  * the version a request resolved to, the read-set identity backing it
  * (the memoization key), and the latest committed version + its
  * read-set (the cache GENERATION key — when it changes, a commit or
  * compaction happened and per-snapshot caches must turn over).
  */
case class ServeSnapshot(
    at: Long,
    keyAt: (Option[Long], Seq[Long]),
    latest: Long,
    keyLatest: (Option[Long], Seq[Long]))

/** Listing, path, write and delete-masking primitives of the layout
  * [[VersionedStore]] describes.
  */
private[streaming] object VersionedState {

  /** ONE FileSystem resolution point for the whole state layer: the
    * store dir's scheme picks the implementation (POSIX paths, `file:`,
    * `hdfs:`, `s3a:`, …), so versions are listed and `_SUCCESS` markers
    * probed through the same connector Spark writes them with. The
    * active session's Hadoop conf comes first, then the default
    * session's: a probe from a pool or cleanup thread must still see
    * spark.hadoop.* (object-store credentials, endpoints).
    */
  private def fs(p: String): org.apache.hadoop.fs.FileSystem = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
  }

  /** Fully-qualified form of a store path (scheme + authority resolved
    * through the active Hadoop conf) — one canonical spelling for
    * "/x/y" vs "file:/x/y" vs "file:///x/y", used as the WriterLease
    * key so spelling variants of one dir cannot dodge the guard.
    */
  def qualified(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    fs(p).makeQualified(path).toString
  }

  /** Path-exists probe — THE `_SUCCESS`-marker test; the replay skip
    * and every carried-part probe route through here so the commit
    * protocol cannot drift from the version listing's notion of
    * "committed".
    */
  def exists(path: String): Boolean =
    fs(path).exists(new org.apache.hadoop.fs.Path(path))

  /** All `_SUCCESS` markers of version dir `dir/<name>` present —
    * `parts` empty ⇒ the version dir itself is the parquet dataset;
    * non-empty ⇒ each named subdir is, and EVERY part must have
    * committed (the multi-part commit protocol).
    */
  def markerCommitted(dir: String, name: String, parts: Seq[String]): Boolean =
    if (parts.isEmpty) exists(s"$dir/$name/_SUCCESS")
    else parts.forall(p => exists(s"$dir/$name/$p/_SUCCESS"))

  /** Both kinds in ONE directory listing: (committed bases, committed
    * deltas), each sorted — every question about a store's versions is
    * answered from one of these (an object-store listStatus is an RPC).
    */
  def committedSets(dir: String, parts: Seq[String]): (Seq[Long], Seq[Long]) = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val f = fs(dir)
    if (!f.exists(d)) (Nil, Nil)
    else {
      val names = f.listStatus(d).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("[vc]\\d+"))
        .map(_.getPath.getName)
        .filter(n => markerCommitted(dir, n, parts))
      (names.collect { case n if n.head == 'c' => n.drop(1).toLong }.sorted,
        names.collect { case n if n.head == 'v' => n.drop(1).toLong }.sorted)
    }
  }

  /** Pure read-set arithmetic over a listing: (newest base ≤ upTo,
    * deltas above it and ≤ upTo, sorted).
    */
  def readSetFrom(bases: Seq[Long], deltas: Seq[Long], upTo: Long)
      : (Option[Long], Seq[Long]) = {
    val base  = bases.filter(_ <= upTo).lastOption
    val floor = base.getOrElse(-1L)
    (base, deltas.filter(v => v > floor && v <= upTo))
  }

  def newest(sets: (Seq[Long], Seq[Long])): Long =
    (sets._1 ++ sets._2).foldLeft(-1L)(math.max)

  /** Largest committed version of any kind — the recovery pointer. */
  def maxVersion(dir: String, parts: Seq[String]): Long =
    newest(committedSets(dir, parts))

  /** (newest base ≤ upTo, deltas above it and ≤ upTo, sorted). */
  def readSet(dir: String, parts: Seq[String], upTo: Long): (Option[Long], Seq[Long]) = {
    val (bases, deltas) = committedSets(dir, parts)
    readSetFrom(bases, deltas, upTo)
  }

  /** One part's parquet dir inside version dir `vdir` — part "" is the
    * version dir itself (the single-part layout).
    */
  def partDir(vdir: String, part: String): String =
    if (part.isEmpty) vdir else s"$vdir/$part"

  /** Parquet paths for one part of an ALREADY-RESOLVED read set — pure
    * arithmetic over the key, NO directory listing.
    */
  def pathsOf(dir: String, key: (Option[Long], Seq[Long]), part: String): Seq[String] =
    (key._1.toSeq.map(k => s"$dir/c$k") ++ key._2.map(v => s"$dir/v$v")).map(partDir(_, part))

  /** THE store write: overwrite (the target is absent or an uncommitted
    * crash leftover the commit protocol hides) with the `_SUCCESS`
    * marker forced — object-store deployments commonly disable it
    * globally, and without it the write never counts as committed.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(path)

  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Recursive delete through the same FileSystem resolution as the
    * listing — sweeps work on any scheme the store dir lives on.
    */
  def deleteRecursively(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  def deleteRecursively(f: java.io.File): Unit =
    deleteRecursively(f.getAbsolutePath)

  /** Delete the dirs the committed base `c<through>` subsumes: every
    * delta `v ≤ through` and every older base.
    */
  def sweep(dir: String, parts: Seq[String], through: Long): Unit = {
    val (bases, deltas) = committedSets(dir, parts)
    (deltas.filter(_ <= through).map(v => s"v$v") ++
      bases.filter(_ < through).map(k => s"c$k"))
      .foreach(n => deleteRecursively(s"$dir/$n"))
  }

  // ---- LSM delete masking ----

  /** Row provenance: a row's version is the `v<k>`/`c<k>` directory it
    * was read from (`input_file_name`) — no version column on disk, so
    * deltas stay schema-identical to batch-built tables.
    */
  def withVer(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("ver",
      regexp_extract(input_file_name(), "/[vc](\\d+)/", 1).cast("long"))
  }

  /** (key, tver) tombstone pairs, or None when no tombstone exists (the
    * common case skips the joins entirely).
    */
  def tombstoneSet(tombs: Option[DataFrame], key: String): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    tombs
      .map(t => withVer(t).select(col(key), col("ver").as("tver")).distinct())
      .filter(!_.isEmpty)
  }

  /** Version-ordered delete mask: a row is dead iff some tombstone for
    * its key is at the row's version or later (so re-ingest after a
    * tombstone resurrects). One hash anti-join; `ver` is
    * provenance-only and dropped.
    */
  def maskDeleted(rows: DataFrame, tombs: Option[DataFrame], key: String): DataFrame =
    tombs match {
      case None => rows.drop("ver")
      case Some(t) =>
        rows.join(t, rows(key) === t(key) && rows("ver") <= t("tver"), "left_anti")
          .drop("ver")
    }
}

/** The lifecycle every live store shares — the Spark shape of the
  * reference's one sorted LSM table per store, where only the combiner
  * ("aggregator") that folds entries at ingest, compaction and scan
  * varies per table. A maintainer extends this class and supplies its
  * per-batch delta and its per-part fold (`Compaction`); everything
  * else — recovery, commit, snapshots, masked reads, compaction — is
  * here, once.
  *
  * Layout under `dir`:
  *   - `v<batchId>/` — a DELTA holding only that micro-batch's output
  *     (O(|batch|) bytes at any accumulated corpus size);
  *   - `c<k>/`       — a COMPACTED BASE subsuming every version ≤ k
  *     (written by `majorCompact`, never by ingest).
  * A multi-part store keeps one parquet subdir per part in each; a
  * single-part store (`parts` empty) keeps its table in the version dir
  * itself, addressed as part "".
  *
  * The read set at version `upTo` is the newest committed base `c_k`
  * (k ≤ upTo) plus the committed deltas k < v ≤ upTo — readers union
  * them and fold the union through the store's combiner. Accumulo never
  * rewrites a table per flush either: `GlobalIndexUidCombiner` is
  * attached at scan scope too (`WikipediaIngester.java:98,116,126,135`)
  * and minor/major compactions bound read amplification, exactly the
  * base/delta split here.
  *
  * Commit protocol: a version counts only once the `_SUCCESS` marker of
  * EVERY part in `parts` exists (stores with optional derived parts list
  * only their core parts); every write forces the marker
  * (`VersionedState.write`). A replayed batch id that is already
  * committed is skipped: a delta depends only on its batch's rows, and
  * rewriting it in place would race a concurrent reader.
  *
  * Deletes: a `tombstones` part (schema `tombstone`, whose LAST column
  * is the delete key) masks every row of its key at the row's version
  * or earlier, so a re-ingest after the tombstone resurrects; compaction
  * applies the mask physically.
  *
  * Compaction writes `c<through>` with forced markers (readers never see
  * a partial base), then deletes the dirs it subsumes — eagerly, or
  * after a reader grace window (`deleteSubsumed = false`, then
  * `Compaction.sweepSubsumed`; the auto dial `Compaction.maybeCompact`
  * sweeps one cycle late).
  *
  * SINGLE-WRITER CONTRACT: the protocol is safe for ONE writer beside
  * any number of readers — a reader either sees a version's full marker
  * set or ignores it, and the writer never rewrites a committed dir.
  * It is NOT safe for two concurrent writers to one store dir: version
  * numbering comes from each writer's own stream checkpoint, so two
  * independent streams would both claim `v<k>` and the overwrite-mode
  * replay path (which exists for crash recovery of an UNCOMMITTED
  * partial write) would silently clobber the other writer's committed
  * delta. One writer per store dir is the deployment invariant;
  * [[WriterLease]] enforces it within a JVM (double `attach` to one dir
  * throws), and across processes it must be held by the orchestration
  * layer — exactly the "one tablet server owns a tablet" invariant the
  * reference's Accumulo substrate provides for its tables.
  */
class VersionedStore private[streaming] (
    spark: SparkSession,
    private[streaming] val dir: String,
    private[streaming] val parts: Seq[String] = Nil,
    tombstone: StructType = new StructType()) {

  import VersionedState._

  // The recovery pointer: a restarted store resumes at its last
  // committed version — Structured Streaming's checkpoint resumes at the
  // next batch id and the pre-crash batches exist only as committed
  // versions.
  @volatile private var version: Long = maxVersion(dir, parts)

  def latestVersion: Long = version

  /** Every version an `asOf=` snapshot read can resolve EXACTLY, sorted:
    * deltas still on disk plus compacted bases (a `c<k>` base answers
    * for its own version k; versions folded beneath it and swept are
    * gone as resources — the serving edge's 404 boundary).
    */
  def committedVersions: Seq[Long] = {
    val (bases, deltas) = committedSets(dir, parts)
    (bases ++ deltas).distinct.sorted
  }

  /** Serving-path snapshot resolution in ONE listing: resolve `asOf`
    * (None = latest) against the EXACT committed versions on disk — not
    * the in-memory pointer, which can lag a concurrent writer — and
    * refresh the pointer. None = empty store or an unknown/swept version
    * (the serving edge's 404).
    */
  def serveSnapshot(asOf: Option[Long] = None): Option[ServeSnapshot] = {
    val (bases, deltas) = committedSets(dir, parts)
    val servable = (bases ++ deltas).distinct.sorted
    val snap = servable.lastOption.flatMap { latest =>
      asOf.fold(Option(latest))(v => Some(v).filter(servable.contains)).map(at =>
        ServeSnapshot(at, readSetFrom(bases, deltas, at),
          latest, readSetFrom(bases, deltas, latest)))
    }
    snap.foreach(s => version = math.max(version, s.latest))
    snap
  }

  /** The (base, delta-list) directory set a read at `upTo` resolves to
    * RIGHT NOW — one driver-side directory listing, no Spark job.
    * Snapshot caches (`QueryService.versioned`) key memoized state on
    * this: a compaction that sweeps or rebases the dirs a cached
    * snapshot was resolved from changes the key, telling the cache to
    * evict and re-resolve instead of serving DataFrames whose resolved
    * paths no longer exist.
    */
  def snapshotKey(upTo: Long): (Option[Long], Seq[Long]) = readSet(dir, parts, upTo)

  private[streaming] def view(key: (Option[Long], Seq[Long])): ReadView =
    new ReadView(spark, dir, key, tombstone)

  private[streaming] def viewAt(upTo: Long): ReadView = view(snapshotKey(upTo))

  /** Single-part stores: the read set at `upTo` (capped at the pointer;
    * one fresh listing) folded through `merge`, or None when empty.
    * Maintenance path — serving reads a resolved key through
    * `view(key).exact()`.
    */
  private[streaming] def mergedAt[T](upTo: Long)(merge: DataFrame => T): Option[T] =
    viewAt(math.min(upTo, version)).union().map(merge)

  private[streaming] def emptyTombstones: DataFrame = emptyFrame(spark, tombstone)

  /** Replay-skip-then-commit: write batch `batchId`'s delta into its
    * version dir unless that id is already committed (at or below the
    * pointer, or every part's marker on disk), then advance the pointer
    * — last, once the delta is committed.
    */
  private[streaming] def commit(batchId: Long)(writeDelta: String => Unit): Unit = {
    if (batchId > version && !markerCommitted(dir, s"v$batchId", parts))
      writeDelta(s"$dir/v$batchId")
    version = math.max(version, batchId)
  }

  /** Major compaction through the newest committed version: `fold`
    * maps the read set to the base's parts, written into `c<through>`
    * in order; caches the fold takes through `ReadView.cached` are
    * released after the writes. Returns the compacted-through version,
    * or -1 when nothing is committed.
    */
  private[streaming] def majorCompact(deleteSubsumed: Boolean)(fold: Compaction.Fold): Long = {
    val (bases, deltas) = committedSets(dir, parts)
    val through = newest((bases, deltas))
    if (through < 0) return -1L
    val key = readSetFrom(bases, deltas, through)
    // a base with nothing above it already IS the fold: rewriting it in
    // place while reading it would delete the only copy of the store
    if (key != (Some(through), Nil)) {
      val v = view(key)
      try fold(v).foreach { case (p, df) => write(df, partDir(s"$dir/c$through", p)) }
      finally v.release()
    }
    if (deleteSubsumed) sweep(dir, parts, through)
    through
  }

}

/** A store fed by a Structured Streaming source: `attach` runs
  * `processBatch` per micro-batch under the single-writer lease.
  * Checkpointed batch ids continue past recovered versions; reuse the
  * SAME `checkpoint` across restarts (the standard Structured Streaming
  * rule), and a replayed committed id is skipped. The caller owns the
  * returned query's lifecycle.
  */
trait StreamSink extends VersionedStore {
  def processBatch(batch: DataFrame, batchId: Long): Unit

  def attach(stream: Dataset[Row], checkpoint: String): StreamingQuery =
    WriterLease.register(dir, stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF, batchId)
      }
      .start())
}

/** One resolved read set `key` of a store — the read primitive of both
  * serving (a request resolves its snapshot once and reads exactly that
  * set, so a compaction sweep landing in between can only surface as a
  * missing path, never as a second listing that silently yields a
  * smaller merge) and compaction folds.
  */
private[streaming] final class ReadView(
    val spark: SparkSession,
    val dir: String,
    key: (Option[Long], Seq[Long]),
    tombstone: StructType) {

  import VersionedState._

  def paths(part: String = ""): Seq[String] = pathsOf(dir, key, part)

  def read(part: String = ""): DataFrame = spark.read.parquet(paths(part): _*)

  /** The part's union, or None when the read set is empty. */
  def union(part: String = ""): Option[DataFrame] =
    if (paths(part).isEmpty) None else Some(read(part))

  /** `f` over the part's union only when EVERY read-set dir carries the
    * part committed — else None. For the serving path this is the
    * swept-resource check (the edge answers 404, never a silently
    * smaller merge); for optional derived parts it is the coverage rule
    * (a partially-covered union would miss the uncovered versions'
    * rows, so the caller falls back).
    */
  def exact[T](part: String = "")(f: DataFrame => T): Option[T] = {
    val ps = paths(part)
    if (ps.isEmpty || !ps.forall(p => exists(s"$p/_SUCCESS"))) None
    else try Some(f(read(part))) catch { case _: AnalysisException => None }
  }

  /** The read set's tombstones, or None when it has none (no join). */
  lazy val tombstones: Option[DataFrame] =
    tombstoneSet(union("tombstones"), tombstone.fieldNames.last)

  /** `rows` (read from this read set) minus every row a tombstone in the
    * set masks.
    */
  def mask(rows: DataFrame): DataFrame =
    maskDeleted(withVer(rows), tombstones, tombstone.fieldNames.last)

  def masked(part: String): Option[DataFrame] = union(part).map(mask)

  private var held = List.empty[DataFrame]

  /** Cache `df` until the compaction that owns this view has written
    * its base.
    */
  def cached(df: DataFrame): DataFrame = { held ::= df.cache(); df }

  def release(): Unit = held.foreach(_.unpersist())
}

/** In-JVM guard for the single-writer contract (see [[VersionedStore]]):
  * every `attach` registers its streaming query here, and
  * a second ACTIVE writer on the same store dir is refused before it
  * can commit anything. A finished/stopped query releases the dir
  * implicitly (`isActive` goes false), so the restart-recovery pattern —
  * stop, construct a fresh maintainer, attach again — keeps working.
  * Cross-process double-writers are out of a JVM registry's reach; that
  * case is the documented deployment invariant.
  */
private[streaming] object WriterLease {
  private val active = scala.collection.mutable.Map
    .empty[String, org.apache.spark.sql.streaming.StreamingQuery]

  /** Register `q` as the writer for `dir`; when another live query
    * holds the dir, stops `q` and throws. The refusal is a standing-
    * writer guard, not a commit-atomic lock: `q`'s very first
    * micro-batch can race the registration (start() is asynchronous),
    * so a pathological double-attach might land one batch before being
    * stopped — the guard's job is that a MISCONFIGURED second writer
    * cannot keep running, which is where the silent version-numbering
    * corruption lives.
    */
  def register(dir: String,
      q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = synchronized {
    // FileSystem-qualified key: "/x/y" and "file:/x/y" are the SAME
    // store dir and must hold the same lease
    val key = VersionedState.qualified(dir)
    active.get(key).filter(old => old.isActive && old.id != q.id) match {
      case Some(_) =>
        q.stop()
        throw new IllegalStateException(
          s"store dir already has an active streaming writer: $dir " +
            "(single-writer contract — stop the existing query first)")
      case None =>
        active(key) = q
        q
    }
  }
}
