package graft.api

import graft.functions.Sketches
import graft.streaming.{LiveAnnMaintainer, LiveDsirModelMaintainer, LiveQuantileMaintainer, LiveSketchMaintainer, ServeSnapshot}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Serving facade over the live ANALYTICS stores — the sketch/model
  * counterpart of [[QueryService]] for [[HttpShim]]'s `/sketch/…`,
  * `/model/…` and `/ann` routes. The engine stores got their serving
  * edge in round 9/10 (`/query` + `asOf`, `/count`, `/hybrid`); this
  * closes the same library-only asymmetry for the analytics state
  * classes (CMS counters, per-group bottom-k quantiles, DSIR importance
  * model, the live ANN index).
  *
  * Every request resolves its snapshot through the maintainer's
  * `serveSnapshot` — ONE directory listing that resolves `asOf` against
  * the exact on-disk committed versions — and then reads EXACTLY the
  * resolved read set (`cmsFor`/`quantilesFor`/`modelFor`/`indexFor`
  * over `ServeSnapshot.keyAt`, pure path arithmetic, no second
  * listing). So a reader beside a concurrent writer serves the resolved
  * version's data, never a stale in-memory pointer — and a compaction
  * sweeping the set between resolution and read surfaces as the 404 a
  * swept resource is, never as a silently smaller merge (the round-11
  * TOCTOU: a second listing after a sweep made `cmsAt` return the zero
  * sketch with a 200).
  *
  * Serving cost mirrors the maintainers' read paths, MEMOIZED per
  * snapshot in generation-keyed caches ([[StoreCache]]): within one
  * GENERATION (a fixed latest read-set) every resolved version's merged
  * state is computed once; when a STRICTLY NEWER generation arrives (a
  * commit, delete, or compaction — ordered by (latest version, base
  * floor), so a stale listing delivered late can never ping-pong the
  * cache backwards), the memo turns over. Evicted Spark-cached
  * DataFrames are retired REF-COUNTED: an in-flight request holds a
  * lease on its value for the duration of its read, and a parked value
  * is unpersisted only once the last lease releases — any number of
  * turnovers while a slow request executes cannot unpersist the plan
  * under it (this replaces round 11's one-generation-grace heuristic
  * with the invariant it approximated).
  *  - CMS / quantiles: merged state is d·w longs / |groups|·k pairs — a
  *    sketch constant; post-first-request cost is a driver map probe,
  *    no job on the wire.
  *  - DSIR: the derived model DataFrame is Spark-cached per snapshot
  *    (vocabulary-sized — deliberately NOT driver state); a token
  *    lookup is one filter job over the in-memory table, fronted by a
  *    bounded driver LRU (the engine's term-cache discipline, negative
  *    entries included).
  *  - ANN: the tombstone-masked assignment at the resolved version is
  *    Spark-cached per (generation, version) (the standard in-memory
  *    ANN serving posture — corpus embeddings resident across the
  *    executor pool); a query is one probe-join-score job.
  * Nothing here scans documents.
  *
  * Snapshot semantics are the `/query?asOf=` contract verbatim — on
  * EVERY route, the ANN store included (its frozen-between-compactions
  * codebook makes the historical index well-defined; see
  * `LiveAnnMaintainer.indexAt`): a version is a RESOURCE — it serves
  * only while its delta (or its own compacted base) is still on disk,
  * and a swept or never-committed version is a 404. No `asOf` serves
  * the latest committed version.
  *
  * Auth model: these stores aggregate the WHOLE corpus (a CMS counter
  * cannot be filtered per-language after the fold), so visibility is
  * store-level, the Accumulo table-permission analogue of the engine's
  * per-language row filter: `requiredAuth = Some(label)` makes every
  * read demand that label among the caller's `auths` — refused as 403
  * (SecurityException), BEFORE the store's existence is revealed.
  */
class AnalyticsService(
    cms: Option[LiveSketchMaintainer] = None,
    quantiles: Option[LiveQuantileMaintainer] = None,
    dsir: Option[LiveDsirModelMaintainer] = None,
    requiredAuth: Option[String] = None,
    ann: Option[LiveAnnMaintainer] = None) {

  private val cmsCache   = new StoreCache[Seq[Long]]
  private val qsCache    = new StoreCache[Map[String, Sketches.QsOut]]
  private val modelCache = new StoreCache[DataFrame](_.unpersist())
  private val annCache =
    new StoreCache[graft.pipeline.Similarity.IvfIndex](_.assigned.unpersist())
  // Driver-side LRU of ((read-set, version), token) → lr, None =
  // known-absent (the engine's term-cache discipline): point lookups
  // repeat on a hot vocabulary, and without this every repeat pays a
  // filter job over the cached model. Bounded at 4096 entries — driver
  // state stays fixed no matter the vocabulary; stale-snapshot keys
  // age out by LRU order.
  private val tokenLru = new graft.Lru[(((Option[Long], Seq[Long]), Long), String), Option[Long]](4096)

  /** Point estimate for one key from the merged CMS at the resolved
    * version, as JSON — the heavy-hitter badge endpoint. After the
    * snapshot's first request the merge is memoized: the wire cost is
    * a driver-side d-row hash probe, no job.
    */
  def cmsEstimate(key: Long, asOf: Option[Long] = None,
      auths: Seq[String] = Nil): String = {
    gate(auths)
    val m = configured(cms, "cms")
    val snap = m.serveSnapshot(asOf).getOrElse(missing(asOf))
    cmsCache.use(snap)(m.cmsFor(snap.keyAt).getOrElse(swept(snap))) { sk =>
      val est = Sketches.cmsEstimate(sk, key, m.d, m.w)
      s"""{"version":${snap.at},"key":$key,"estimate":$est}"""
    }
  }

  /** Rank-rule quantiles at the resolved version — one group as a JSON
    * object (404 for a group the store never saw), or every group as a
    * sorted JSON array (bounded by the maintainer's group-domain
    * contract: a GROUP BY dimension, not a key domain). Memoized like
    * the CMS route: post-first-request cost is a map lookup.
    */
  def groupQuantiles(group: Option[String], asOf: Option[Long] = None,
      auths: Seq[String] = Nil): String = {
    gate(auths)
    val m = configured(quantiles, "quantiles")
    val snap = m.serveSnapshot(asOf).getOrElse(missing(asOf))
    qsCache.use(snap)(m.quantilesFor(snap.keyAt).getOrElse(swept(snap))) { qs =>
      def one(g: String, o: Sketches.QsOut) =
        s"""{"group":${QueryService.jstr(g)},"version":${snap.at},"n_sample":${o.n_sample},"p50":${o.p50},"p90":${o.p90},"p99":${o.p99}}"""
      group match {
        case Some(g) => one(g, qs.getOrElse(g,
          throw new NoSuchElementException(s"no such group: $g")))
        case None =>
          qs.toSeq.sortBy(_._1).map { case (g, o) => one(g, o) }
            .mkString("[", ",", "]")
      }
    }
  }

  /** One token's quantized importance log-ratio from the merged model
    * at the resolved version, as JSON; an out-of-model token is a 404
    * (the DSIR OOV contract: the default scorer DROPS it — a lookup
    * must say "absent", not invent a likelihood).
    */
  def dsirToken(token: String, asOf: Option[Long] = None,
      auths: Seq[String] = Nil): String = {
    gate(auths)
    val m = configured(dsir, "dsir")
    val snap = m.serveSnapshot(asOf).getOrElse(missing(asOf))
    modelCache.use(snap)(
      m.modelFor(snap.keyAt).getOrElse(swept(snap)).cache()) { model =>
      val lruKey = ((snap.keyAt, snap.at), token)
      // negative entries cache "absent" too
      val lr = tokenLru.getOrElseUpdate(lruKey) {
        model.filter(col("token") === token).limit(1).collect()
          .headOption.map(_.getAs[Long]("lr"))
      }.getOrElse(throw new NoSuchElementException(s"token not in model: $token"))
      s"""{"version":${snap.at},"token":${QueryService.jstr(token)},"lr":$lr}"""
    }
  }

  /** ANN top-k over the tombstone-masked IVF store at the resolved
    * version, as JSON [{rank,id,cosine}] — the serving edge of
    * `LiveAnnMaintainer`, probing nprobe cells through the same
    * `Similarity.ivfTopKWith` every sim_* entry is oracled on. Query by
    * stored id (`Left` — the vector's own embedding AT THE RESOLVED
    * VERSION is the query; an id unknown or tombstoned there = 404) or
    * by a raw vector (`Right` — scored with self-exclusion OFF, so a
    * stored vector at any id, including negative ids, can rank).
    * `asOf` time travel follows the sketch stores' contract: the index
    * at a committed version is the masked read-set fold at that version
    * under its own centroids (`indexFor` — a delete committed later
    * does not reach back), 404 for swept/unknown versions. The index is
    * computed from the snapshot's OWN read set — never through the
    * maintainer's shared recovery pointer, which a concurrent commit
    * can move between resolution and read (the round-11 advice item).
    */
  def annTopK(query: Either[Long, Array[Float]], k: Int, nprobe: Int,
      asOf: Option[Long] = None, auths: Seq[String] = Nil): String = {
    gate(auths)
    val m = configured(ann, "ann")
    val snap = m.serveSnapshot(asOf).getOrElse(missing(asOf))
    annCache.use(snap) {
      val fresh = m.indexFor(snap.keyAt).getOrElse(swept(snap))
      fresh.copy(assigned = fresh.assigned.cache())
    } { ivf =>
      val spark = ivf.assigned.sparkSession
      import spark.implicits._
      val (queries, excludeSelf) = query match {
        case Left(id) =>
          // one in-memory filter job; materialized so the probe join's
          // corpus side (the same assigned view) keeps clean lineage
          val r = ivf.assigned.filter(col("vec_id") === id)
            .select("vec_id", "embedding").limit(1).collect().headOption
            .getOrElse(throw new NoSuchElementException(s"vector not found: $id"))
          (Seq((r.getLong(0), r.getSeq[Float](1))).toDF("vec_id", "embedding"), true)
        case Right(v) =>
          // no sentinel id: self-exclusion is OFF for raw vectors, so no
          // stored id can collide with the query row's placeholder
          (Seq((0L, v.toSeq)).toDF("vec_id", "embedding"), false)
      }
      val rows = graft.pipeline.Similarity
        .ivfTopKWith(ivf, queries, k, nprobe, excludeSelf = excludeSelf)
        .collect().sortBy(_.getAs[Int]("rank"))
      rows.map { r =>
        s"""{"rank":${r.getAs[Int]("rank")},"id":${r.getAs[Long]("neighbor_id")},"cosine":${r.getAs[Double]("cosine")}}"""
      }.mkString("[", ",", "]")
    }
  }

  /** Store-level visibility check — FIRST, so an unauthorized caller
    * learns nothing (not even which stores this server carries).
    */
  private def gate(auths: Seq[String]): Unit =
    requiredAuth.foreach { a =>
      if (!auths.contains(a))
        throw new SecurityException(s"store requires authorization '$a'")
    }

  private def configured[T](o: Option[T], name: String): T =
    o.getOrElse(throw new IllegalArgumentException(
      s"no $name store configured on this server"))

  /** An empty store and an unknown/swept version are both missing
    * RESOURCES (404), the `/query?asOf=` discipline.
    */
  private def missing(asOf: Option[Long]): Nothing = asOf match {
    case Some(v) => throw new NoSuchElementException(
      s"no committed snapshot at version $v")
    case None => throw new NoSuchElementException("empty analytics store")
  }

  /** The resolved-then-swept race (a compaction removed the snapshot's
    * read set between the listing and the read): the version is gone as
    * a resource — 404, exactly as if the request had arrived after the
    * sweep. Never the zero sketch / empty model with a 200.
    */
  private def swept(snap: ServeSnapshot): Nothing =
    throw new NoSuchElementException(
      s"snapshot at version ${snap.at} was compacted away during the request")
}

/** Generation-keyed per-snapshot memo with REF-COUNTED retirement.
  * ONE lock per store: lookups, turnover, and cold computes are atomic
  * with respect to each other (a cold merge under the lock runs at most
  * once per version per generation — the acceptable serialization).
  *
  * Turnover is ORDERED, not equality-triggered: generations compare by
  * (latest committed version, base floor) — both monotone under the
  * commit/compact protocol — so two requests whose directory listings
  * straddled a commit cannot flip the generation backwards then forwards
  * (each flip of the round-11 equality scheme counted as a turnover and
  * burned the eviction grace). A LATE-arriving older listing simply
  * serves through the current memo: per-version state is immutable, so
  * the answer is identical.
  *
  * Retirement: values evicted at turnover are parked and `retire`d only
  * when no in-flight request holds them (`refs == 0`) — immediately at
  * turnover if idle, else at the holder's release. A request that
  * executes across ANY number of turnovers keeps its Spark-cached plan
  * alive for its whole read (the round-11 one-generation grace was a
  * heuristic bound on this; the ref-count is the invariant).
  *
  * private[api] for direct unit testing of the concurrency contract
  * (HttpShimSpec's two-turnover test).
  */
private[api] class StoreCache[V](retire: V => Unit = (_: V) => ()) {
  private final class Entry(val value: V) { var refs: Int = 0 }
  private var genKey: (Option[Long], Seq[Long]) = null
  private var genOrd: (Long, Long) = (Long.MinValue, Long.MinValue)
  private val memo = scala.collection.mutable.Map.empty[Long, Entry]
  private var parked: List[Entry] = Nil

  /** Serve `f` over the memoized value for `snap`'s resolved version,
    * holding a lease on it for the duration of `f`.
    */
  def use[R](snap: ServeSnapshot)(compute: => V)(f: V => R): R = {
    val e = synchronized {
      val ord = (snap.latest, snap.keyLatest._1.getOrElse(-1L))
      if (genKey == null ||
          Ordering[(Long, Long)].compare(ord, genOrd) > 0) {
        parked = (parked ++ memo.values).filter { en =>
          if (en.refs == 0) { retire(en.value); false } else true
        }
        memo.clear()
        genKey = snap.keyLatest
        genOrd = ord
      }
      val en = memo.getOrElseUpdate(snap.at, new Entry(compute))
      en.refs += 1
      en
    }
    try f(e.value)
    finally synchronized {
      e.refs -= 1
      if (e.refs == 0 && parked.exists(_ eq e)) {
        retire(e.value)
        parked = parked.filterNot(_ eq e)
      }
    }
  }
}
