package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokenizeWs

/** Large-scale corpus deduplication operators: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All are pure DataFrame programs on their data
  * paths, and each documents its shuffle structure for the 100 TB case.
  * (One documented, size-gated exception: `connectedComponents` finishes
  * driver-side below an explicit edge threshold.)
  */
object Dedup {

  /** Per-`n` UDF instances, built once and reused for every call.
    * This is a CACHE-CORRECTNESS device, not a convenience: Spark's
    * CacheManager matches `.cache()` entries by canonicalized plan, and
    * `ScalaUDF` canonicalizes by FUNCTION REFERENCE — a lambda allocated
    * fresh inside an operator method makes every invocation's plan
    * unique, so each bench pass / composed query (dd_ngram_jaccard,
    * dd_cluster, dd_keep_best all shingle the same corpus) cached a NEW
    * copy of the corpus-wide shingle table and hit none of the prior
    * ones. With one shared instance per `n`, repeat invocations
    * canonicalize equal, the second call on a corpus is a cache HIT, and
    * storage holds exactly one entry per (corpus, n) instead of growing
    * per call for the life of the session.
    */
  private val udfMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Int), org.apache.spark.sql.expressions.UserDefinedFunction]
  private def sharedUdf(kind: String, n: Int)(
      mk: => org.apache.spark.sql.expressions.UserDefinedFunction) =
    udfMemo.getOrElseUpdate((kind, n), mk)

  /** jaccardPairs hot-shingle probe results, keyed by
    * (corpus semanticHash, n, dfCap) — see the probe comment there.
    * ASSUMES the data behind a given plan is immutable for the JVM's
    * lifetime (true for the harness corpora and for at-scale immutable
    * snapshot dirs): if a path is overwritten in place, the stale entry
    * could skip the hot/cold machinery — results stay exact either way,
    * only the skew protection's engagement is affected. Cleared when it
    * grows past a bound so a long-lived session cannot leak entries.
    */
  private val probeMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, Int, Int), Boolean]
  private def memoizedProbe(key: (Int, Int, Int))(probe: => Boolean): Boolean = {
    // bound-clear only when the key is ABSENT: clearing ahead of a hit
    // would evict the entry we're about to serve and re-run the probe
    // job the memo exists to skip
    if (!probeMemo.contains(key) && probeMemo.size > 64) probeMemo.clear()
    probeMemo.getOrElseUpdate(key, probe)
  }

  /** Exact dedup: group by content hash. At 100 TB: hash first (64-byte
    * key instead of full text in the shuffle), one shuffle on the hash,
    * map-side partial agg. Output: one row per distinct content.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_size"))

  /** Connected components over a near-dup pair list — the clustering
    * step between pairwise dedup (jaccard/MinHash/SimHash output) and
    * the keep-one-per-cluster verdict. Alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log²) rounds regardless of
    * component diameter — a min-label propagation loop would need
    * diameter rounds, unbounded on chained near-dup corpora. Each round
    * is two keyed aggregations + joins (narrow shuffles on node id); no
    * driver-side graph state, so the 100 TB posture is the per-round
    * shuffle, not memory.
    *
    * Input: (a, b) long pairs, any orientation. Output: (doc_id,
    * component) for every node that APPEARS in a pair, component = min
    * doc_id of its component (isolated docs are absent — callers join
    * and coalesce to the doc's own id).
    *
    * Size-adaptive: the deduped edge count is known before the first
    * round (the convergence signature already counts it); at or below
    * `driverThreshold` edges the components finish DRIVER-SIDE with
    * union-find — O(E·α) in one collect, versus 3-4 shuffle stages per
    * distributed round. Near-dup edge lists are tiny relative to the
    * corpus (they are what dedup exists to make rare), so this is the
    * common case; the distributed loop remains the unbounded-size path
    * and both produce identical min-label components (tested against
    * each other). The default threshold (200k edges ≈ a few MB collected
    * + a bounded map) is deliberately conservative — it is the one
    * driver-side data-path allowance in this file, and it is explicit:
    * pass driverThreshold = 0 to force the fully distributed path.
    */
  def connectedComponents(
      pairs: DataFrame, maxRounds: Int = 50, driverThreshold: Long = 200000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // orient once: (u, v) with v < u. NOT deduped yet — union-find is
    // idempotent under duplicate edges, so the driver path needs no
    // distinct shuffle, and gating on the RAW pair count is conservative
    // (raw ≥ deduped: a borderline corpus just takes the distributed
    // path). Cached (not checkpointed) until the size decision: the
    // driver path is exactly two actions (count, collect).
    val e0 = pairs
      .select(greatest(col("a"), col("b")).cast("long").as("u"),
        least(col("a"), col("b")).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .cache()
    val edgeCount = e0.count()
    if (driverThreshold > 0 && edgeCount <= driverThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e0.as[(Long, Long)].collect().foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { // union by MIN root so labels match the star loop
          val (lo, hi) = if (ru < rv) (ru, rv) else (rv, ru)
          parent(hi) = lo
        }
        parent.getOrElseUpdate(u, find(u)); parent.getOrElseUpdate(v, find(v))
      }
      e0.unpersist() // edges live on the driver now
      return parent.keys.toSeq.map(n => (n, find(n))).toDF("doc_id", "component")
    }
    // distributed path: dedup (the star loop needs it) and truncate
    // lineage (at cluster scale: checkpoint dir); the checkpoint copies
    // the data, so the cache entry can go
    var e       = e0.distinct().localCheckpoint()
    e0.unpersist()
    var round   = 0
    var prevSig = (-1L, 0L)
    var sig     = signature(e)
    while (sig != prevSig && round < maxRounds) {
      // large-star: every node's LARGER neighbors link to the min of its
      // neighborhood (incl. itself) — shrinks tall chains geometrically
      val sym  = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: each node and its SMALLER neighbors link to the min
      // of that set — flattens the remaining stars
      val mins2 = afterLarge.groupBy("u").agg(min("v").as("m")) // v < u always here
      val linked = afterLarge.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
      // Adapt the checkpointed edge set's parallelism to its LIVE size
      // (known from the previous signature): AQE coalesces the
      // intermediate shuffles, but the checkpoint keeps its partition
      // count, and at near-converged edge counts the next round's cost
      // is task scheduling, not data. 100k edges/partition keeps
      // cluster-scale inputs fully parallel.
      val parts = math.max(1L, math.min(e.rdd.getNumPartitions.toLong, sig._1 / 100000L + 1))
      e = linked.coalesce(parts.toInt).localCheckpoint()
      prevSig = sig
      sig = signature(e)
      round += 1
    }
    // Non-convergence must be LOUD: returning the partial edge set would
    // silently split components and mark duplicate docs "keep". The
    // star algorithm converges in O(log²) rounds, so 50 is unreachable
    // except under a logic regression — fail, don't guess.
    if (sig != prevSig)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds")
    // converged: every edge points (node → component min)
    e.select(col("u").as("doc_id"), col("v").as("component"))
      .union(e.select(col("v").as("doc_id"), col("v").as("component")))
      .groupBy("doc_id").agg(min("component").as("component"))
  }

  /** Order-invariant convergence signature: (edge count, XOR of 64-bit
    * row hashes) — one tiny job per round; equal signatures on
    * consecutive rounds ⇒ the edge set is stable. xxhash64 + bit_xor,
    * not sum(hash): the 32-bit `hash` gives a realistic 2⁻³² per-round
    * silent-wrong-components risk at 100 TB pair volumes, and a Long
    * SUM of 64-bit hashes overflows under ANSI mode — XOR is
    * order-invariant, overflow-free, and collision-safe on the distinct
    * edge set (2⁻⁶⁴).
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Keep-first dedup verdicts from clustered near-dup pairs: every doc
    * joins its component (own id when isolated); the component's min id
    * is the keeper. One broadcast-friendly join against the (small)
    * component map — the full corpus is touched exactly once.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame =
    dedupClustersFromComponents(docs, connectedComponents(pairs))

  /** `dedupClusters` with a PRECOMPUTED component map — the pairs→
    * components front half is the expensive part (corpus-wide shingle
    * pass + CC rounds), so pipelines that apply several keeper rules to
    * one clustering (keep-first here, keep-best below) compute it once
    * and share it. The map is small by construction (≤ #near-dup docs).
    */
  def dedupClustersFromComponents(docs: DataFrame, comp: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("verdict",
        when(col("component") === col("doc_id"), lit("keep")).otherwise(lit("drop")))

  /** Keep-BEST dedup verdicts: like `dedupClusters`, but the keeper per
    * component is the member maximizing `score` (ties → lowest doc_id)
    * instead of blindly the lowest id — the canonical-selection rule
    * real curation pipelines use (keep the longest / highest-quality
    * variant of a near-dup cluster, drop the rest). `docs` must carry
    * `doc_id` and the score column. Cost over keep-first: one extra
    * shuffle on `component` for the per-component argmax window; the
    * corpus is still touched exactly once.
    */
  def dedupClustersKeepBest(
      docs: DataFrame, pairs: DataFrame, score: String): DataFrame =
    dedupClustersKeepBestFromComponents(docs, connectedComponents(pairs), score)

  /** See `dedupClustersFromComponents` — same sharing rationale. */
  def dedupClustersKeepBestFromComponents(
      docs: DataFrame, comp: DataFrame, score: String): DataFrame = {
    val withComp = docs.select(col("doc_id"), col(score).as("_score"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_score"),
        coalesce(col("component"), col("doc_id")).as("component"))
    // argmax via max(struct): one partial-aggregable pass, no window
    // sort. struct compares lexicographically, so (score, -doc_id) max
    // = highest score, ties to LOWEST id. doc_id = Long.MinValue would
    // overflow the negation, but ids here are non-negative by contract
    // (the same contract packSequences documents).
    val keepers = withComp
      .groupBy("component")
      .agg(max(struct(col("_score"), (-col("doc_id")).as("neg_id")))
        .as("best"))
      .select(col("component"), (-col("best.neg_id")).as("keeper_id"))
    withComp.join(keepers, Seq("component"), "left")
      .select(col("doc_id"), col("component"), col("keeper_id"),
        when(col("doc_id") === col("keeper_id"), lit("keep"))
          .otherwise(lit("drop")).as("verdict"))
  }

  /** (doc_id, shingle) pairs: distinct word n-grams per document.
    * Compiled UDF rather than nested higher-order functions — HOF
    * expressions evaluate interpreted per element, which dominates on a
    * corpus-wide shingling pass.
    */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val shingleUdf = sharedUdf("shingles", n)(udf { text: String =>
      val tk = text.split(" ").filter(_.nonEmpty)
      if (tk.length < n) Array.empty[String]
      else {
        val seen = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= tk.length - n) {
          val sb = new StringBuilder(tk(i))
          var j = 1
          while (j < n) { sb.append(' ').append(tk(i + j)); j += 1 }
          seen += sb.toString
          i += 1
        }
        seen.toArray
      }
    })
    graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(shingleUdf(col("text"))).as("shingle"))
  }

  /** Per-position 64-bit hashes of a token array's word n-grams — the
    * one shared definition of "window hash": `shingleHashes` dedups its
    * output, `crossDocSpans` consumes it positionally. One place to
    * change tokenization/seed so the operators cannot silently diverge.
    *
    * Each token is fnv1a-hashed ONCE, then each window combines its n
    * token hashes as a degree-(n-1) polynomial (odd multiplier, mod
    * 2⁶⁴). Equality semantics are unchanged — distinct n-grams collide
    * with prob ~2⁻⁶⁴, same as the previous whole-string fnv1a — but the
    * corpus-wide pass does O(chars + n·windows) work instead of
    * O(n·chars·windows) and allocates no per-window strings (the
    * StringBuilder round-trip was the dominant cost of every shingling
    * pass). Tokens cannot contain the ' ' separator (split above), so
    * per-token hashing loses no boundary information.
    */
  private[pipeline] def windowHashes(tk: Array[String], n: Int): Array[Long] =
    if (tk.length < n) Array.empty[Long]
    else {
      val th = new Array[Long](tk.length)
      var i = 0
      while (i < tk.length) { th(i) = fnv1a(tk(i), 0L); i += 1 }
      val out = new Array[Long](tk.length - n + 1)
      i = 0
      while (i <= tk.length - n) {
        var h = 0L
        var j = 0
        while (j < n) { h = h * 0x100000001b3L + th(i + j); j += 1 }
        out(i) = h
        i += 1
      }
      out
    }

  /** (doc_id, sh) pairs: 64-bit fnv1a hashes of the distinct word
    * n-grams per document, computed inside the UDF without emitting the
    * n-gram strings. Hash-equality join semantics match string-equality
    * up to collisions (~|shingles|²/2⁶⁴).
    */
  def shingleHashes(docs: DataFrame, n: Int): DataFrame = {
    val udfH = sharedUdf("shingleHashes", n)(udf { text: String =>
      // Array.distinct keeps first-occurrence order — same output as
      // the previous insertion-ordered set
      windowHashes(text.split(" ").filter(_.nonEmpty), n).distinct
    })
    graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(udfH(col("text"))).as("sh"))
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ tau).
    *
    * Shuffle structure: one shuffle keyed by shingle (bucket sizes are
    * bounded because n-grams are selective — this is why we shingle
    * instead of joining on single tokens), one aggregation keyed by the
    * pair.
    *
    * Skew hardening (`dfCap > 0`): a boilerplate shingle appearing in d
    * documents contributes d² rows to the self-join — at 100 TB a single
    * hot shingle (license header, template) kills the stage. Shingles
    * with document frequency > dfCap are excluded from the JOIN ONLY;
    * their contribution to the intersection is restored exactly during
    * verification from per-doc hot-shingle sets (the distinct hot list
    * is ≤ totalShingleRows/dfCap entries — broadcast-size by
    * construction). The reported jaccard is therefore EXACT, and the
    * join cost is bounded by dfCap²·|hotShingles| + Σ(cold df²).
    *
    * No false negatives, unconditionally: a true pair (J ≥ tau) could
    * only be missed if it shares NO cold shingle. The shared set has
    * ≥ tau·max(na,nb) elements and hot-shared ≤ min(ha,hb) (h = per-doc
    * hot count), so `h_d < tau·n_d` for EITHER endpoint forces a cold
    * shared shingle, hence candidacy through the cold join. Docs
    * violating that bound (h_d ≥ tau·n_d — mostly-boilerplate docs) are
    * detected at runtime and their HOT rows joined too, restricted to
    * violator×violator — quadratic only within the violator set, whose
    * pairs are intrinsically near-dup-dense (they're what dedup is for).
    */
  def jaccardPairs(docs: DataFrame, n: Int, tau: Double, dfCap: Int = 0): DataFrame = {
    // Join on a 64-bit shingle hash, not the string: same equality
    // semantics up to fnv1a collisions (~|shingles|²/2⁶⁴ ≈ 0), half the
    // shuffle bytes. The hashes are computed INSIDE the shingling UDF —
    // the n-gram strings are never materialized into rows at all (at
    // corpus scale that's the dominant allocation + exchange cost of
    // this operator).
    //
    // Each row also carries its document's distinct-shingle count `nd`
    // (known for free as the UDF's array length): the join rows then
    // already hold na/nb, so the per-doc `sizes` aggregation and the two
    // post-aggregation size joins disappear from the plan — at sf0.1
    // that was 3 of the operator's ~9 stages; at cluster scale it
    // removes two full-corpus-keyed aggregations. +8 bytes per shuffled
    // row against a join half the plan shorter.
    // nd is embedded in every element INSIDE the UDF (not derived as
    // size(arr) in a second projection: CollapseProject would inline the
    // deterministic UDF into both size() and explode() and run the
    // shingling twice per document)
    val udfH = sharedUdf("jaccardShingles", n)(udf { text: String =>
      val hs = windowHashes(text.split(" ").filter(_.nonEmpty), n).distinct
      hs.map(h => (h, hs.length.toLong))
    })
    val sh = graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(udfH(col("text"))).as("e"))
      .select(col("doc_id"), col("e._2").as("nd"), col("e._1").as("sh"))
      .cache()

    // One plan-time probe when the cap is enabled: a map-side-combined
    // aggregate over the (cached) shingle table answering "does any hot
    // shingle exist?". When none does — the common case on non-
    // boilerplate corpora — the whole hot/cold machinery below (anti +
    // semi split, per-doc hot sets, violator self-join, two correction
    // joins) would run against provably-empty relations; skipping it
    // here halves the operator's plan. The probe's cost is the first
    // materialization of `sh`, which every downstream path needs
    // anyway; the filtered hot list itself is cached so the skewed
    // branch reuses the probe's aggregation instead of re-running it.
    // NOTE: this makes a dfCap > 0 call EAGER — constructing the
    // returned DataFrame runs the shingling + probe jobs (the same
    // plan-time-job pattern as the search engine's index lookups).
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("sh").cache()
    // The probe's answer is a property of the (immutable) input corpus,
    // so it is memoized per (corpus plan, n, dfCap) — repeat calls on
    // the same corpus (clustering after pairing, interleaved benchmark
    // passes, any pipeline that reuses its dedup stage) skip the probe's
    // plan-time jobs entirely. A semanticHash collision would only pick
    // the other (equally exact) plan shape — correctness never depends
    // on this cache.
    val anyHot = dfCap > 0 && memoizedProbe(
      (docs.semanticHash(), n, dfCap))(!hot.isEmpty)

    val (joinSide, extraPairs, hotCorrection) =
      if (dfCap <= 0 || !anyHot)
        (sh, None: Option[DataFrame], (df: DataFrame) => df)
      else {
        val cold    = sh.join(broadcast(hot), Seq("sh"), "left_anti")
        val hotRows = sh.join(broadcast(hot), Seq("sh"), "left_semi")
        // per-doc hot-shingle sets: ≤ |hot| elements each, usually ~0;
        // first(nd) rides along so the violator test needs no size join
        val hotPerDoc = hotRows
          .groupBy("doc_id").agg(collect_set(col("sh")).as("hot_set"),
            first(col("nd")).as("nd"))
        // Precondition violators (h_d ≥ tau·n_d): a pair of such docs may
        // share ONLY hot shingles, unreachable through the cold join —
        // keep them reachable by self-joining their hot rows. No distinct
        // on the pairs: they enter the aggregation with inter=0, so
        // duplicates are harmless and partial aggregation absorbs them.
        val violators = hotPerDoc
          .filter(size(col("hot_set")).cast("long") >= lit(tau) * col("nd"))
          .select("doc_id")
        val violRows = hotRows.join(violators, Seq("doc_id"), "left_semi")
        val extra = violRows.as("a")
          .join(violRows.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
            lit(0L).as("w"), col("a.nd").as("na"), col("b.nd").as("nb"))
        val correct: DataFrame => DataFrame = interCold =>
          interCold
            .join(hotPerDoc.select(col("doc_id").as("a"), col("hot_set").as("hot_a")), Seq("a"), "left")
            .join(hotPerDoc.select(col("doc_id").as("b"), col("hot_set").as("hot_b")), Seq("b"), "left")
            .withColumn("inter",
              col("inter") + coalesce(
                size(array_intersect(col("hot_a"), col("hot_b"))).cast("long"), lit(0L)))
            .select("a", "b", "inter", "na", "nb")
        (cold, Some(extra), correct)
      }

    val coldInter = joinSide.as("a")
      .join(joinSide.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        lit(1L).as("w"), col("a.nd").as("na"), col("b.nd").as("nb"))
    // na/nb are functionally determined by the grouping key, so first()
    // is deterministic — the pair aggregation is the ONLY post-join
    // shuffle; jaccard computes directly from the aggregated row
    val inter = hotCorrection(
      extraPairs.fold(coldInter)(coldInter.unionByName(_))
        .groupBy("a", "b").agg(sum("w").as("inter"),
          first("na").as("na"), first("nb").as("nb")))
    inter
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      // floor-scaling (both engines floor the same binary double) — see
      // RelationalQueries q11 note on ROUND's decimal-string hazard
      .select(col("a"), col("b"), (floor(col("jaccard") * 10000) / 10000).as("jaccard"))
  }

  /** Cross-document repeated-span detection — the span-level signal of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): for each document, the share
    * of its n-token windows that also occur verbatim in ANOTHER
    * document. Doc-level dedup (exact/Jaccard/MinHash) misses partially
    * copied text; this measures it. Windows are per-POSITION (not
    * deduped), hashed inside one UDF pass; repetition confined to a
    * single doc does not count (that is `TextAnalysis.repetition`).
    *
    * Shuffle budget: window df aggregation keyed by hash (map-side
    * combined), one keyed join flagging duplicated windows, one per-doc
    * aggregation — all bounded by corpus token count, never pairwise.
    * Output: (doc_id, n_windows, dup_window_permille, verdict) for
    * EVERY doc ("trim" at `trimAt` per-mille — the span-dedup action is
    * trimming the copied spans, not dropping the doc).
    */
  def crossDocSpans(docs: DataFrame, n: Int = 5, trimAt: Int = 200): DataFrame = {
    val winUdf = sharedUdf("windows", n)(udf { text: String =>
      if (text == null) null
      else windowHashes(text.split(" ").filter(_.nonEmpty), n)
    })
    // cached: both the df aggregation and the flagging join consume it —
    // without the cache the corpus-wide window pass executes twice
    val w = graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(winUdf(col("text"))).as("h")).cache()
    val dupSet = w.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(1).as("dup"))
    val per = w.join(dupSet, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), count(col("dup")).as("dup_windows"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        // integer `div`, not `/`: double division can round an
        // almost-integer ratio the other way than the oracle's floor
        coalesce(expr("(dup_windows * 1000) div n_windows"), lit(0L))
          .as("dup_window_permille"))
      .withColumn("verdict",
        when(col("dup_window_permille") >= trimAt, lit("trim")).otherwise(lit("keep")))
  }

  /** Exact-substring dedup REMEDIATION — the rewrite step completing
    * `crossDocSpans`' detection (the "deduplicating training data"
    * action): token streams are cut into non-overlapping k-token blocks
    * (positions 0, k, 2k, …; the tail block may be shorter), every
    * block occurrence except the corpus-wide FIRST (minimal
    * (doc_id, pos)) is removed, and documents reassemble from their
    * kept blocks in position order (docs scrubbed to nothing come back
    * as '').
    *
    * Shuffle budget: one partial-aggregable groupBy on the block key
    * (struct-min keeper — no per-block window sort, so a boilerplate
    * block occurring a million times costs a map-side-combined
    * aggregate, not a million-row sorted partition), one keyed
    * flagging join, one per-doc reassembly aggregation — all linear in
    * corpus token count, never pairwise. Blocks key on their TEXT here
    * for oracle transparency; a deployment substitutes the 64-bit
    * window hash (`windowHashes`) as the key, the same size-vs-rare-
    * collision trade the LSH family documents.
    */
  def scrubDupSpans(docs: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, s"block size must be >= 1: $k")
    val blocks = docs
      .select(col("doc_id"),
        tokenizeWs(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0), floor((size(col("tk")) - 1) / lit(k)).cast("int")),
          i => concat_ws(" ", slice(col("tk"), i * lit(k) + 1, lit(k)))))
        .as(Seq("pos", "block")))
    val keeper = blocks.groupBy("block")
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"))
    val kept = blocks.join(keeper, Seq("block"))
      .filter(col("doc_id") === col("kp.doc_id") && col("pos") === col("kp.pos"))
    val clean = kept.groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("block")))),
          s => s.getField("block"))).as("text_clean"))
    docs.select(col("doc_id"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Embedding-cosine near-dup verdicts: a vector is a duplicate iff some
    * EARLIER vector (smaller id) is cosine-similar above tau — the
    * standard keep-first dedup rule. Pairs come from the blocked
    * all-pairs baseline here; at corpus scale substitute
    * `Similarity.lshPairs` for the candidate source (same contract:
    * (a, b, cosine) with a < b, `Banding.bandPairs`' `Self` form).
    */
  def embeddingDedupVerdicts(emb: DataFrame, tau: Double): DataFrame = {
    val dups = Similarity.bruteForcePairs(emb, tau)
      .select(col("b").as("vec_id")).distinct()
    keepDropVerdicts(emb.select(col("vec_id")), dups, "vec_id")
  }

  /** Each `ids` row plus "drop" if its `id` is in `dropIds` (one distinct column), else "keep". */
  private[graft] def keepDropVerdicts(ids: DataFrame, dropIds: DataFrame, id: String): DataFrame =
    ids.join(dropIds.withColumn("dropped", lit(true)), Seq(id), "left")
      .select(ids.columns.toIndexedSeq.map(col) :+
        when(col("dropped"), lit("drop")).otherwise(lit("keep")).as("verdict"): _*)

  // ---- MinHash + LSH ------------------------------------------------------

  /** Deterministic 64-bit string hash (FNV-1a) — portable, seedable. */
  def fnv1a(s: String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  val NumHashes = 64

  /** MinHash signature of a token set: k independent permutations
    * simulated by k seeded hashes, min per seed.
    */
  def minhashSignature(tokens: Seq[String], k: Int = NumHashes): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    tokens.foreach { t =>
      var i = 0
      while (i < k) {
        val h = fnv1a(t, i * 0x9e3779b97f4a7c15L + 1)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** splitmix64 finalizer — a full-avalanche 64-bit mixer. */
  def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    x
  }

  /** MinHash signature over PRE-HASHED elements: permutation i is
    * simulated by mixing each element hash with a per-i offset. Same
    * banding math as the string form, but the corpus-wide pass never
    * materializes or shuffles element strings.
    */
  def minhashSignatureHashed(elems: Seq[Long], k: Int = NumHashes): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    elems.foreach { e =>
      var i = 0
      while (i < k) {
        val h = mix64(e ^ (i * 0x9e3779b97f4a7c15L + 1))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  private val minhashUdf = udf((es: Seq[Long]) => minhashSignatureHashed(es))

  /** (doc_id, band, band_hash): LSH banding of a MinHash signature over
    * the given per-doc element-hash sets (doc_id, elems: array<long>).
    * Candidate pairs are docs sharing any full band. One narrow shuffle
    * keyed by (band, band_hash).
    */
  def minhashBands(sets: DataFrame, bands: Int): DataFrame = {
    val rows = NumHashes / bands
    val bandCols = (0 until bands).map(b => hash(slice(col("sig"), b * rows + 1, rows), lit(b)))
    sets
      .select(col("doc_id"), minhashUdf(col("elems")).as("sig"))
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
      .select("doc_id", "band", "band_hash")
  }

  /** MinHash LSH near-dup detection: shingle → minhash → band →
    * bucket-join for candidates, then exact Jaccard verification on the
    * candidates only (never all pairs).
    *
    * Shingling (word n-grams, n ≥ 2) is what makes Jaccard discriminative
    * on natural corpora — raw token sets saturate a shared vocabulary and
    * make ~everything a candidate. Band geometry is the precision/recall
    * dial: r = 64/bands rows ⇒ P(candidate) = 1-(1-j^r)^bands; the 32×2
    * default keeps recall ≥95% at j = 0.3 while baseline-dissimilar pairs
    * (j ≈ 0.005) stay below 1e-3. At 100 TB the only wide ops are the
    * band shuffle and the candidate join — both keyed, both bounded.
    *
    * Provisioning note (measured, round-12 sf100 audit): COMPUTE is
    * linear through three decades, but local shuffle SCRATCH is the
    * binding resource — Spark retains every stage's shuffle files until
    * job end, and this pipeline materializes the exploded shingle set
    * ~3-4× (band stage + both sides of the exact-verify join), so
    * scratch ≈ several × (corpus tokens × 8 B hashes + ids). A 577 MB
    * compressed-text corpus (~400M shingles) exceeded 74 GB of scratch;
    * size executors' local disks accordingly, or pre-materialize the
    * per-doc element-hash sets to object storage once (`minhashBands`
    * consumes them directly) so repeated runs re-read instead of
    * re-shuffling.
    */
  def minhashPairs(docs: DataFrame, tau: Double, bands: Int = 32, shingleN: Int = 3): DataFrame = {
    // element sets are 64-bit hashes end-to-end (same rationale as
    // jaccardPairs): the corpus-wide pass never materializes or shuffles
    // shingle strings; exact verification intersects hash sets — equal
    // to string-set jaccard up to fnv1a collisions (~|shingles|²/2⁶⁴)
    val sets = shingleSets(docs, shingleN).cache()
    jaccardVerified(minhashCandidates(sets, bands), sets, sets, tau)
  }

  private[pipeline] val BandKeys = Seq("band", "band_hash") // minhashBands' keys

  /** `minhashPairs`' candidates (a < b, distinct), also `graft.tools.LshProbe`'s count. */
  private[graft] def minhashCandidates(sets: DataFrame, bands: Int): DataFrame = {
    // cached: the band table feeds a SELF-join — uncached, the
    // 64-hash/element signature UDF (the operator's CPU-heavy pass)
    // executes once per join side; and because minhashUdf is an
    // object-level instance the plan canonicalizes equal across calls,
    // so repeat invocations on the same corpus reuse this too (bounded:
    // docs × bands small rows per corpus)
    val b = minhashBands(sets, bands).cache()
    Banding.bandPairs(b, b, Banding.Self, "doc_id", BandKeys).distinct()
  }

  /** The exact verify step of the MinHash family: each candidate pair
    * (a, b) joins its two element-hash sets (a's from `setsA`, b's from
    * `setsB`) and is kept iff its exact Jaccard is ≥ `tau`, reported to
    * 4 dp.
    */
  private[pipeline] def jaccardVerified(candidates: DataFrame, setsA: DataFrame,
      setsB: DataFrame, tau: Double): DataFrame =
    candidates
      .join(setsA.select(col("doc_id").as("a"), col("elems").as("ta")), "a")
      .join(setsB.select(col("doc_id").as("b"), col("elems").as("tb")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))) * lit(1.0) /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))

  /** Incremental MinHash LSH: near-dup pairs touching a FRESH shard —
    * fresh×fresh (a < b) plus corpus×fresh (a = corpus doc, b = fresh
    * doc) — with corpus×corpus pairs never FORMED, not formed-then-
    * filtered. This is the shape batch ingestion actually needs at
    * 100 TB: each arriving shard dedups against the accumulated corpus
    * without re-pairing the corpus against itself (the full
    * `minhashPairs` rerun is quadratic-ish in accumulated size; this is
    * ~|fresh| band rows probing the corpus band table).
    *
    * The corpus-side band/set tables are recomputed here from `corpus`
    * for self-containment; a deployment persists them once (they are
    * plain DataFrames — the same persisted-artifact route the IVF/PQ
    * index uses) and each shard run reads them back, bucketed by
    * (band, band_hash), so only fresh-side signatures are computed and
    * the candidate probe co-locates without shuffling the corpus side.
    * Thresholds/banding and the exact-verify contract are identical to
    * `minhashPairs` (same τ=0.6 certainty argument for the oracle).
    */
  def minhashPairsIncremental(corpus: DataFrame, fresh: DataFrame, tau: Double,
      bands: Int = 32, shingleN: Int = 3): DataFrame = {
    val setsOld = shingleSets(corpus, shingleN).cache()
    val setsNew = shingleSets(fresh, shingleN).cache()
    minhashPairsFromParts(
      setsOld, minhashBands(setsOld, bands).cache(),
      setsNew, minhashBands(setsNew, bands).cache(), tau)
  }

  /** Per-doc distinct shingle-hash sets — the verify-side artifact of
    * the LSH family (`minhashBands` derives the candidate-side one).
    * Public because incremental/streaming dedup persists BOTH across
    * runs and merges per-shard deltas into them.
    */
  def shingleSets(docs: DataFrame, shingleN: Int): DataFrame =
    shingleHashes(docs, shingleN)
      .groupBy("doc_id").agg(collect_set(col("sh")).as("elems"))

  /** `minhashPairsIncremental` with the four artifacts PRECOMPUTED —
    * the shape a deployment actually runs: the corpus set/band tables
    * are persisted state (read back bucketed, never recomputed), the
    * fresh-side tables are this shard's delta (computed once here,
    * then merged into the state by the caller). Pair orientation and
    * the exact-verify contract are identical to
    * `minhashPairsIncremental`.
    */
  def minhashPairsFromParts(setsOld: DataFrame, bOld: DataFrame,
      setsNew: DataFrame, bNew: DataFrame, tau: Double): DataFrame = {
    val candidates = Banding.bandPairs(bNew, bNew, Banding.Self, "doc_id", BandKeys)
      // SharedIds guards the degenerate overlap where a doc appears in
      // both inputs (contract is disjoint ids; self-pairs stay out)
      .union(Banding.bandPairs(bOld, bNew, Banding.SharedIds, "doc_id", BandKeys))
      .distinct()
    jaccardVerified(candidates, setsOld.union(setsNew), setsNew, tau)
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over the token multiset. */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a(t, 0x5bd1e995L)
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i   = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  private val simhashUdf = udf((ts: Seq[String]) => simhash64(ts))

  def simhashes(docs: DataFrame): DataFrame =
    graft.Tables.fanOut(docs)
      .select(col("doc_id"), simhashUdf(tokenizeWs(col("text"))).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found by
    * chunk-banding (pigeonhole: distance ≤ c-1 over c chunks guarantees
    * one identical chunk), then exact Hamming verification on candidates.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int, chunks: Int = 8): DataFrame = {
    // pigeonhole guarantee requires more chunks than differing bits
    require(maxDist < chunks,
      s"simhashPairs recall guarantee needs maxDist < chunks (got $maxDist >= $chunks)")
    val width = 64 / chunks
    val sh    = simhashes(docs).cache()
    val chunkCols = (0 until chunks).map(c =>
      shiftrightunsigned(col("simhash"), c * width).bitwiseAND(lit((1L << width) - 1)))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "chunk_val")))
    Banding.bandPairs(
        banded, banded, Banding.Self, "doc_id", Seq("chunk", "chunk_val"), Seq("simhash"))
      .select(col("a"), col("b"),
        bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))).as("dist"))
      // Hamming filter BEFORE the dedup: `dist` is deterministic per
      // pair, so filtering first is result-identical and the distinct
      // aggregates only the matches instead of every candidate
      // collision (a chunk shared by d docs contributes d² candidate
      // rows — the dominant intermediate at corpus scale).
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
