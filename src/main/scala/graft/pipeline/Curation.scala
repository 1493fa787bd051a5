package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokenizeWs

/** Training-data curation operators: deterministic splits, stratified
  * sampling, eval-set decontamination, domain mixture weights, and
  * context-window sequence packing. These are the steps between a
  * deduplicated corpus and a training run; like the Dedup/Similarity
  * ops they are pure DataFrame programs whose shuffle structure is
  * documented for the 100 TB case.
  *
  * Determinism contract: every assignment derives from splitmix64 over
  * the stable `doc_id` (never from `rand()` or task placement), so
  * splits are reproducible run-to-run, survive corpus re-partitioning,
  * and are portable — a SQL engine re-derives them bit-identically
  * (the property the oracle checks exploit).
  */
object Curation {

  /** Unsigned permille bucket of a salted splitmix64 over doc_id.
    * A UDF on purpose: the wrapping 64-bit multiplies of the mixer are
    * hostile to ANSI-mode Catalyst arithmetic (overflow would throw),
    * and this is a once-per-row narrow projection, not a join-side
    * hot path.
    */
  private def bucketUdf(salt: Long) = udf { id: Long =>
    java.lang.Long.remainderUnsigned(Dedup.mix64(id ^ salt), 1000L).toInt
  }

  /** Salts keep the split and sampling decisions independent: the same
    * doc must not be "always test AND always dropped from sampling".
    */
  val SplitSalt  = 0L
  val SampleSalt = 0x5ca1ab1eL
  val ShuffleSalt = 0x0ddba11L
  val SourceCapSalt = 0xd00dfeedL
  val TempSalt = 0x7e3a9e55L
  val TokenBudgetSalt = 0xbead1e5L

  /** The train/val/test label for a bucket column — ONE definition of
    * the boundary rule, shared by `assignSplit` and `manifest` (and
    * mirrored by their oracles' CASE chains).
    */
  private def splitCol(bucket: Column, trainPermille: Int, valPermille: Int): Column =
    when(bucket < trainPermille, lit("train"))
      .when(bucket < trainPermille + valPermille, lit("val"))
      .otherwise(lit("test"))

  /** Deterministic train/val/test assignment: bucket = splitmix64
    * (doc_id) mod 1000; [0, trainPermille) → train, then val, rest →
    * test. Zero shuffles — a narrow projection the optimizer pipelines
    * into whatever reads it. This is how a 100 TB corpus is split in
    * practice: no global sort, no sampling pass, stable under
    * re-ingestion of any subset.
    */
  def assignSplit(
      docs: DataFrame, trainPermille: Int = 800, valPermille: Int = 100): DataFrame = {
    val b = bucketUdf(SplitSalt)(col("doc_id"))
    docs.select(col("doc_id"), b.as("bucket"))
      .withColumn("split", splitCol(col("bucket"), trainPermille, valPermille))
  }

  val ManifestSalt = 0x3a1fe57L

  /** Deterministic per-split DATASET MANIFEST — the reproducibility
    * surface a training pipeline records with every run and checks
    * before the next ("is this split exactly the corpus I trained
    * on?"): per split, (n_docs, n_tokens, sum_chars, sig) where `sig`
    * is an ORDER-INDEPENDENT membership-and-size fingerprint
    *
    *   sig = Σ_docs  mix64(doc_id ⊕ ManifestSalt) · (1 + n_chars)   (mod 2⁶⁴)
    *
    * A commutative/associative integer sum is partition-order
    * invariant and partial-aggregable, so the whole manifest is ONE
    * map-side-combined groupBy on the split label — no sort, no
    * content shuffle, at any corpus size. Any membership change,
    * count change, or per-doc length drift moves the signature; it is
    * NOT a content hash (two same-length texts under the same id
    * collide by design — pair with `Dedup.exactGroups`' text grouping
    * when byte-level attestation is needed).
    *
    * ANSI-safe modular arithmetic AT ANY SCALE: the mod-2⁶⁴ sum runs
    * inside a typed Aggregator whose JVM `+` wraps by definition —
    * ANSI mode governs SQL expression evaluation, not Scala code in an
    * Aggregator — so no intermediate ever overflows a checked SQL sum
    * no matter how many docs a split holds; the oracle re-derives the
    * identical value in HUGEINT modular arithmetic.
    */
  def manifest(docs: DataFrame,
      trainPermille: Int = 800, valPermille: Int = 100): DataFrame = {
    val termUdf = udf { (id: Long, nChars: Long) =>
      graft.pipeline.Dedup.mix64(id ^ ManifestSalt) * (1L + nChars)
    }
    val wrapSum = udaf(new graft.functions.WrapSumAggregator())
    docs
      .withColumn("bucket", bucketUdf(SplitSalt)(col("doc_id")))
      .withColumn("split", splitCol(col("bucket"), trainPermille, valPermille))
      .select(col("split"), col("n_chars"),
        size(tokenizeWs(col("text"))).cast("long").as("n_tok"),
        termUdf(col("doc_id"), col("n_chars")).as("t"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        wrapSum(col("t")).as("sig"))
      .orderBy("split")
  }

  /** Deterministic corpus shuffle — the training-order permutation:
    * `pos` ∈ [0, N) orders documents by (salted splitmix64(doc_id),
    * doc_id), a reproducible pseudorandom shuffle derived from the
    * stable id (the determinism contract above — never `rand()` or
    * task placement). A training run writes shards in `pos` order;
    * re-running the pipeline reproduces them byte-identically, and a
    * SQL engine re-derives the permutation exactly (the cu_shuffle
    * oracle).
    *
    * Scale posture: the global position is NOT a global-ORDER-BY
    * window (the single-partition trap). The unsigned hash's top
    * log2(buckets) bits give a FIXED monotone bucketing (no sampling
    * pass — range partitioning's sampler is also why a plain orderBy
    * could not be reproducible); per-bucket counts (≤ buckets rows,
    * the one bounded collect) broadcast back as cumulative offsets;
    * positions are per-bucket row_numbers plus the offset — P parallel
    * sorted partitions, cu_pack's prefix-scan shape on a hash key.
    */
  def shuffleOrder(docs: DataFrame, seed: Long = ShuffleSalt,
      buckets: Int = 1024): DataFrame = {
    val withH = hashOrder(docs, seed, buckets)
    val counts = withH.groupBy("bkt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until buckets).scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = (0 until buckets).map(b => (b, offsets(b))).toDF("bkt", "off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("hf"), col("doc_id"))
    withH.withColumn("rk", row_number().over(w).cast("long") - 1)
      .join(broadcast(offDf), Seq("bkt"))
      .select(col("doc_id"), (col("off") + col("rk")).as("pos"))
  }

  /** Per-source document cap — domain balancing: keep at most `cap`
    * documents per source, chosen deterministically as the cap
    * smallest by (salted splitmix64(doc_id), doc_id) within the source
    * (the determinism contract above — stable under re-ingestion, a
    * SQL engine re-derives the survivors exactly). The crawl-pipeline
    * op that stops a handful of mega-domains from dominating the
    * mixture where `stratifiedSample`'s RATE form cannot promise a
    * count.
    *
    * Scale posture: selecting the cap smallest per source is NOT a
    * per-source global sort (a mega-domain would sort in one task) and
    * NOT a driver histogram (domains at web scale are unbounded, so
    * per-source state must stay distributed — unlike `shuffleOrder`'s
    * single global offset table). Same monotone-bucket trick, kept
    * distributed end to end: the hash's top log2(buckets) bits bucket
    * each source's docs in hash order; per-(source, bucket) counts are
    * one keyed aggregation; the running count below each bucket is a
    * per-source window over ≤ `buckets` ROWS (bounded per source, any
    * number of sources). Buckets entirely under the cap keep all rows
    * sort-free; only the one boundary bucket per source ranks its
    * ~1/buckets share of the source's rows.
    */
  def sourceCap(docs: DataFrame, cap: Int, seed: Long = SourceCapSalt,
      buckets: Int = 1024): DataFrame = {
    require(cap >= 0, s"cap must be >= 0: $cap")
    val kept = prefixKept(docs, lit(1L), cap, seed, buckets)
    docs.select(col("doc_id"), col("source"))
      .join(kept.withColumn("kept", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("kept"), lit("keep")).otherwise(lit("drop")).as("verdict"))
  }

  /** Per-source TOKEN budget — the mixture-building primitive when the
    * recipe is stated in tokens, not documents ("600B tokens of web, 50B
    * of code"): keep each source's documents in deterministic hash order
    * ((salted splitmix64(doc_id), doc_id) — the determinism contract
    * above) while the source's running token total stays within
    * `budget`. The doc that would cross the budget is dropped, as is
    * everything after it in hash order; re-running the pipeline or
    * re-partitioning the corpus reproduces the exact same survivor set,
    * and a SQL engine re-derives it (the cu_budget oracle).
    *
    * Scale posture: `sourceCap`'s distributed prefix-scan with token
    * sums in place of row counts — monotone hash-top-bit buckets,
    * per-(source, bucket) token totals, the running below-bucket total
    * as a per-source window over ≤ `buckets` ROWS (bounded per source,
    * any number of sources). Buckets wholly under budget keep all rows
    * sort-free; exactly one boundary bucket per source runs an in-bucket
    * running sum over its ~1/buckets share. No per-source global sort,
    * no driver-side histogram of an unbounded domain.
    */
  def tokenBudget(docs: DataFrame, budget: Long,
      seed: Long = TokenBudgetSalt, buckets: Int = 1024): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val nTokens = size(tokenizeWs(col("text"))).cast("long")
    val kept = prefixKept(docs, nTokens, budget, seed, buckets)
    docs.select(col("doc_id"), col("source"), nTokens.as("n_tokens"))
      .join(kept.withColumn("kept", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        when(col("kept"), lit("keep")).otherwise(lit("drop")).as("verdict"))
  }

  /** The hash order shared by `shuffleOrder`, `sourceCap` and
    * `tokenBudget`: (doc_id, `cols`…, bkt, hf) where hf is the salted
    * splitmix64(doc_id) with its sign bit flipped (so SIGNED ordering =
    * unsigned hash order) and bkt the hash's top log2(buckets) bits —
    * monotone in that same order, so bucket boundaries respect it and
    * (bkt, hf) sorts exactly as hf.
    */
  private def hashOrder(docs: DataFrame, seed: Long, buckets: Int,
      cols: Column*): DataFrame = {
    require(buckets >= 1 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two: $buckets")
    val shift = 64 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val hUdf = udf { id: Long =>
      val h = Dedup.mix64(id ^ seed)
      ((if (buckets == 1) 0L else h >>> shift).toInt, h ^ Long.MinValue)
    }
    val withHb = docs.select(col("doc_id") +: cols :+ hUdf(col("doc_id")).as("hb"): _*)
    withHb.select(withHb.columns.init.map(col) ++
      Seq(col("hb._1").as("bkt"), col("hb._2").as("hf")): _*)
  }

  /** The prefix rule behind `sourceCap` (weight 1 per document) and
    * `tokenBudget` (weight = its token count): the doc_ids each source
    * keeps, walking its documents in hash order while the source's
    * running `weight` total stays within `limit`. The running total
    * below each bucket is a per-source window over ≤ `buckets` ROWS;
    * buckets wholly under the limit keep all rows sort-free, and only
    * the one boundary bucket per source runs an in-bucket running sum.
    */
  private def prefixKept(docs: DataFrame, weight: Column, limit: Long,
      seed: Long, buckets: Int): DataFrame = {
    val withH = hashOrder(docs, seed, buckets, col("source"), weight.as("w"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = withH.groupBy("source", "bkt")
      .agg(sum(col("w")).as("t"))
      .withColumn("below", coalesce(sum(col("t")).over(wCum), lit(0L)))
    val tagged = withH.join(cum, Seq("source", "bkt"))
    val keepWhole = tagged.filter(col("below") + col("t") <= limit).select("doc_id")
    // exactly one boundary bucket per source: the first whose cumulative
    // total crosses the limit. In-bucket running sum in hash order —
    // keep while the source's running total stays within the limit.
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "bkt").orderBy(col("hf"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val boundary = tagged
      .filter(col("below") < limit && col("below") + col("t") > limit)
      .withColumn("run", sum(col("w")).over(wRun))
      .filter(col("below") + col("run") <= limit)
      .select("doc_id")
    keepWhole.unionByName(boundary)
  }

  /** Stratified downsampling: keep a document iff its (independent)
    * permille bucket falls under its stratum's rate. Rates are a small
    * driver-side map (strata are languages/domains — bounded), compiled
    * into a when-chain so the filter stays a codegen'd narrow
    * projection; unknown strata use `defaultPermille`.
    */
  def stratifiedSample(
      docs: DataFrame,
      stratum: Column,
      rates: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    val b = bucketUdf(SampleSalt)(col("doc_id"))
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    // filter on the expression directly — a temp `bucket` column would
    // clobber a caller's column of that name (assignSplit emits one)
    docs.filter(b < rate)
  }

  /** Temperature-balanced source sampling — the multilingual/multi-domain
    * rebalancing shape (sampling exponent α = 1/2): source s receives a
    * document quota ∝ isqrt(tokens_s), which flattens head sources and
    * boosts the tail relative to proportional sampling, without the
    * degenerate uniform-across-sources extreme.
    *
    * Portability contract: isqrt = floor ∘ IEEE-754 sqrt (correctly
    * rounded by spec, so every engine computes the same integer), and
    * EVERYTHING after the isqrt is integer arithmetic —
    * quota_s = target·w_s div Σw, keep-permille_s = min(1000,
    * quota_s·1000 div n_docs_s) — so the oracle re-derives the exact
    * same selection with no float-comparison hazard. Selection is the
    * salted splitmix64 permille gate: join-free, reproducible, stable
    * under re-partitioning. Quotas are met in expectation (each doc is
    * an independent permille draw), which is the standard contract for
    * hash-gated sampling at corpus scale.
    *
    * Scale shape: one partial-aggregated shuffle on the bounded source
    * key for the quota table (driver-side — sources are a label domain,
    * not data-scale), then a codegen'd narrow filter over the corpus.
    */
  def temperatureSample(docs: DataFrame, targetDocs: Long,
      salt: Long = TempSalt): DataFrame = {
    require(targetDocs >= 0, s"targetDocs must be >= 0: $targetDocs")
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokenizeWs(col("text"))).cast("long")).as("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
    val weights = per.map { case (_, _, nt) => math.sqrt(nt.toDouble).toLong }
    val totalW  = weights.sum
    val keepPermille = per.zip(weights).map { case ((src, nd, _), w) =>
      val quota = if (totalW == 0L) 0L else targetDocs * w / totalW
      src -> math.min(1000L, if (nd == 0L) 0L else quota * 1000L / nd)
    }.toMap
    val rate = keepPermille.foldLeft(lit(0L)) { case (acc, (src, p)) =>
      when(col("source") === src, lit(p)).otherwise(acc)
    }
    docs.filter(bucketUdf(salt)(col("doc_id")) < rate)
      .select(col("doc_id"), col("source"))
  }

  /** Decontamination output: per corpus doc, its `hits` count `n` (0 if absent) and verdict. */
  private def verdicts(docs: DataFrame, hits: DataFrame, n: String): DataFrame =
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col(n), lit(0L)).as(n))
      .withColumn("verdict", when(col(n) > 0, lit("contaminated")).otherwise(lit("clean")))

  /** Eval-set decontamination: per corpus document, the number of its
    * distinct word n-grams that also occur anywhere in the eval set.
    *
    * Shuffle structure: the eval side collapses to DISTINCT n-gram
    * hashes — benchmark suites are tiny relative to the corpus, so that
    * set broadcasts and the corpus-side probe is a narrow broadcast
    * semi-join inside the shingling projection's stage (no corpus
    * shuffle at all); the final per-doc count is one aggregation keyed
    * by doc_id. Hash-equality semantics match string equality up to
    * fnv1a collisions (~|shingles|²/2⁶⁴) — same contract as
    * `Dedup.jaccardPairs`.
    */
  def contamination(docs: DataFrame, evalDocs: DataFrame, n: Int = 3): DataFrame = {
    val evalSh = Dedup.shingleHashes(evalDocs, n).select("sh").distinct()
    val hits = Dedup.shingleHashes(docs, n)
      .join(broadcast(evalSh), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    verdicts(docs, hits, "n_contaminated")
  }

  /** Decontamination for eval sets too big to broadcast — same result
    * as `contamination` (bit-identical, any fpp), different scale
    * posture. `contamination` ships the DISTINCT eval shingle set to
    * every executor; that caps the eval side at broadcast size (~say
    * 1 GB). Decontaminating against a whole held-out CORPUS (the
    * "test-set leakage at pretraining scale" setup) breaks that cap,
    * and the naive fallback — a full shuffle semi-join — shuffles
    * every corpus shingle (the 100 TB side).
    *
    * This variant restores the no-corpus-shuffle shape with a Bloom
    * prefilter + exact verify:
    *   1. build a Bloom filter over the eval shingle hashes with
    *      `stat.bloomFilter` — a distributed aggregate; the driver
    *      (and then every executor, via one broadcast) holds only the
    *      fixed-size bit array (~1.2 GB per 1e9 distinct shingles at
    *      fpp 1%, independent of eval TEXT size);
    *   2. probe it inside the corpus-side shingling projection — the
    *      ~(1-fpp) of shingles that miss are dropped with zero
    *      shuffle, same as the broadcast semi-join dropped them;
    *   3. exact-verify ONLY the survivors (true hits + fpp of the
    *      rest) with a keyed semi-join against the eval set — this is
    *      the only wide op touching corpus data, and its left side is
    *      ~fpp of the corpus shingle volume.
    * The verify step makes fpp a pure COST dial (join size), never a
    * correctness one — the oracle for `cu_bloom` is the same exact
    * SQL as `cu_contam`'s, which is the point.
    *
    * The two actions (count + filter build) run at plan-build time;
    * both are aggregates over the already-distinct eval side. Callers
    * decontaminating many corpora against one eval set should lift
    * the filter out via the usual persisted-artifact route (the IVF
    * pattern); here it stays inline so the operator is one call.
    */
  def contaminationBloom(
      docs: DataFrame, evalDocs: DataFrame, n: Int = 3, fpp: Double = 0.01): DataFrame = {
    val evalSh = Dedup.shingleHashes(evalDocs, n).select("sh").distinct()
    // r13: the two plan-build actions (sizing count + filter aggregate)
    // each re-shingled the whole eval corpus — no cross-action reuse
    // without an explicit storage level (§5). Persist the DISTINCT hash
    // set (bounded by construction) across them and release it before
    // returning: 3 eval-corpus shingling passes per call become 2 (the
    // in-plan exact-verify side still recomputes at execution — keeping
    // the cache alive past this call would leak it into the session).
    val bf =
      try {
        evalSh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        evalSh.stat.bloomFilter("sh", math.max(evalSh.count(), 1L), fpp)
      } finally evalSh.unpersist(blocking = false)
    val bfB   = docs.sparkSession.sparkContext.broadcast(bf)
    val might = udf((sh: Long) => bfB.value.mightContainLong(sh))
    val hits = Dedup.shingleHashes(docs, n)
      .filter(might(col("sh")))           // narrow: inside the shingling stage
      .join(evalSh, Seq("sh"), "left_semi") // exact verify, keyed on sh, NOT broadcast
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    verdicts(docs, hits, "n_contaminated")
  }

  /** Near-duplicate (fuzzy) decontamination — the PARAPHRASE-leakage
    * form the shingle-overlap operators above cannot see: a corpus doc
    * is contaminated if some eval doc is its NEAR-duplicate (Jaccard ≥
    * `tau` over word n-gram shingles) rather than merely sharing an
    * exact n-gram: `contamination` answers "does any eval n-gram appear
    * verbatim?", this answers "is the document substantially an eval
    * document?" — the dedup-grade similarity the eval-leakage
    * literature targets for paraphrased splits. Candidates come
    * from `Dedup.minhashPairs`' bands and band join in its `DisjointIds`
    * form (a corpus doc and an eval doc may share a `doc_id`), so corpus
    * × corpus pairs are never formed and the corpus side's only wide ops
    * are the band shuffle and the candidate join (both keyed, both
    * bounded; the 32×2 band geometry is the same recall dial, certain
    * at τ = 0.6). Exact Jaccard verification on candidates only — like
    * `cu_bloom`, the prefilter is a cost dial, never a correctness one.
    * Output matches `contamination`'s shape: one row per corpus doc,
    * (doc_id, n_eval_neardups, verdict).
    */
  def fuzzyContamination(docs: DataFrame, evalDocs: DataFrame, tau: Double = 0.6,
      bands: Int = 32, shingleN: Int = 3): DataFrame = {
    val setsC = Dedup.shingleSets(docs, shingleN)
    val setsE = Dedup.shingleSets(evalDocs, shingleN)
    val cand = Banding.bandPairs(Dedup.minhashBands(setsC, bands),
        Dedup.minhashBands(setsE, bands), Banding.DisjointIds, "doc_id", Dedup.BandKeys)
      .distinct()
    val hits = Dedup.jaccardVerified(cand, setsC, setsE, tau)
      .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n_eval_neardups"))
    verdicts(docs, hits, "n_eval_neardups")
  }

  /** Graded decontamination — the overlap-FRACTION form (the GPT-3
    * appendix-C / PaLM shape): per document, the permille of its
    * distinct n-grams that occur anywhere in the eval set, with a drop
    * verdict at ≥ `dropAt`. `contamination` above answers "touched at
    * all?" (right for exact-answer leakage); this grades HOW MUCH, so a
    * document sharing one boilerplate shingle with a benchmark survives
    * while a true leak drops. Integer permille via `div` — no float
    * ratio to diverge from the oracle. Same shuffle shape as
    * `contamination`: eval set collapses to broadcast-size distinct
    * hashes, corpus probes it inside the shingling stage, one per-doc
    * aggregation.
    */
  def overlapFraction(
      docs: DataFrame, evalDocs: DataFrame, n: Int = 3, dropAt: Int = 200): DataFrame = {
    val evalSh = Dedup.shingleHashes(evalDocs, n).select("sh").distinct()
    val per = Dedup.shingleHashes(docs, n)
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      // integer div, not a double ratio: floor semantics are portable.
      // The div runs on the PRE-coalesce nullable columns: a doc shorter
      // than n tokens has no `per` row, so the division sees NULL (not
      // 0) and coalesces to 0 — under ANSI mode a 0 divisor would throw
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(expr("(n_overlap * 1000) div n_shingles"), lit(0L))
          .as("overlap_permille"))
      .withColumn("verdict",
        when(col("overlap_permille") >= dropAt, lit("drop")).otherwise(lit("keep")))
  }

  /** Domain mixture table: per source, document and token counts plus
    * an integer sampling weight proportional to token share
    * (`tokens·1000 // total` — integer math, so the table is exact and
    * portable). One partial-aggregated shuffle on the (bounded) source
    * key; the total is a broadcast-size second aggregation.
    */
  def mixtureWeights(docs: DataFrame, domain: Column): DataFrame = {
    val per = docs
      .groupBy(domain.as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokenizeWs(col("text"))).cast("long")).as("n_tokens"))
    // r13: the total derives IN-PLAN as an unpartitioned window over
    // the aggregated per-source rows, instead of the old eager
    // `per.agg(sum).collect()` — which ran the corpus-scale
    // tokenize+aggregate subtree TWICE per invocation (once for the
    // collect, once in the returned plan; separate executions, no
    // cross-action reuse). ONE corpus pass now; the single-partition
    // WindowExec is over ≤|sources| rows (a bounded label domain — the
    // engine's documented bounded-window class, like the ≤1001-row
    // histogram), never corpus-sized. A crossJoin(broadcast(agg))
    // variant was also measured: column pruning makes the total's copy
    // of `per` non-identical, so AQE cannot reuse the exchange and the
    // corpus aggregates twice (concurrently — still 2.4× slower than
    // this). A/B medians (OPTIMIZATION_r13.md §5): 0.710 eager / 0.292
    // crossJoin / 0.151 window. Weight arithmetic is unchanged integer
    // math (n_tokens·1000 div total); the `when` guard keeps the
    // empty/all-empty contract (weight 0, no ANSI divide-by-zero),
    // which the old driver-side `if` provided.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    per.withColumn("tot", sum("n_tokens").over(w))
      .withColumn("weight_permille",
        when(col("tot").isNull || col("tot") === 0L, lit(0L))
          .otherwise(expr("n_tokens * 1000L div tot")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight_permille"))
  }

  /** PII patterns shared by the scrubber and its SQL oracle. Kept to the
    * RE2-compatible subset (no lookarounds, no backrefs) so Java regex
    * (this engine) and RE2 (the oracle, and e.g. a Go/Rust sidecar)
    * match identically — verified on shared edge cases in PipelineSpec.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing: count and redact emails and IPv4 literals. A narrow
    * codegen'd projection (regexp_* built-ins) — zero shuffles, scales
    * as a map over the corpus. Emails redact FIRST so an address's
    * host part is never half-eaten by the IP rule — and `n_ips` counts
    * on the email-REDACTED text for the same reason: an IPv4-looking
    * host inside an address (x@1.2.3.44.com) is redacted as part of the
    * email, so counting it as an IP would leave audits reconciling
    * counts against replacements with a phantom unredacted IP.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(noEmail, lit(Ipv4Re), lit(0))).as("n_ips"),
      regexp_replace(noEmail, Ipv4Re, "<IP>").as("redacted"))
  }

  /** Context-window packing: concatenate documents in doc_id order and
    * cut the stream into sequences of `budget` tokens; each document
    * reports the sequence where its first token lands and its offset in
    * that sequence (GPT-style concat-and-chunk).
    *
    * The global running sum is NOT a single-partition `Window.orderBy`
    * (which serializes the whole corpus through one task). Distributed
    * prefix-scan instead: (1) deterministic range buckets from the
    * [min_id, max_id] domain — monotone in doc_id, exact for the full
    * signed-64 range incl. hash-derived (negative) ids — so bucketing
    * needs no sampling pass and is reproducible; (2) per-bucket token sums,
    * collected (P rows — driver state is O(P), never corpus-sized) and
    * prefix-summed; (3) per-bucket cumulative sums under
    * `Window.partitionBy(pid)` — P parallel sorted partitions — plus the
    * broadcast bucket offset. Two narrow shuffles total (the groupBy
    * and the window), each keyed by pid.
    */
  def packSequences(docs: DataFrame, budget: Int, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm    = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    val minId = if (mm.isNullAt(0)) 0L else mm.getLong(0)
    val maxId = if (mm.isNullAt(1)) 0L else mm.getLong(1)
    // pid must be monotone in doc_id and land in [0, buckets). The id
    // domain may be hash-derived (full signed-64 range — half of all
    // hashes are NEGATIVE), so three exact signed cases, never a
    // `maxId - minId` span (overflows when the domain straddles zero)
    // and never a multiply (wraps for ids ≥ 2⁶³/buckets):
    //  - all ids ≥ 0: pid = doc_id div width, width ≥ maxId/buckets
    //  - all ids < 0: shift by minId (diff of two negatives — exact),
    //    then the same div
    //  - mixed: negatives get the lower buckets/2 ids via the shifted
    //    div ((-1) - minId ≤ Long.Max — exact), non-negatives the rest;
    //    monotone because every negative pid < negB ≤ every positive pid
    // offsetSql ∈ [0, span]; b = 1 short-circuits to pid 0 because its
    // width (span + 1) can overflow Long at span = Long.MaxValue; for
    // b ≥ 2, span/b + 1 ≤ Long.MaxValue/2 + 1 — always exact
    def div(offsetSql: String, span: Long, b: Int): String =
      if (b <= 1) "0L" else s"(($offsetSql) div ${span / b + 1}L)"
    val pidExpr: String =
      if (minId >= 0) s"cast(${div("doc_id", maxId, buckets)} as int)"
      else if (maxId < 0)
        s"cast(${div(s"doc_id - ${minId}L", maxId - minId, buckets)} as int)"
      else {
        val negB = buckets / 2
        val posB = buckets - negB
        s"""cast(case when doc_id < 0
           |  then ${div(s"doc_id - ${minId}L", -1L - minId, negB)}
           |  else $negB + ${div("doc_id", maxId, posB)} end as int)""".stripMargin
      }
    val withPid = docs
      .select(col("doc_id"), size(tokenizeWs(col("text"))).cast("long").as("n_tokens"))
      // integer `div` keeps bucketing exact for any id domain (long `/`
      // would round through double)
      .withColumn("pid", expr(pidExpr))
    val bucketTotals = withPid.groupBy("pid").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefix = (0 until buckets).scanLeft(0L) { (acc, p) =>
      acc + bucketTotals.getOrElse(p, 0L)
    } // prefix(p) = tokens in buckets < p
    val prefixCol = element_at(
      typedLit(prefix.take(buckets).toSeq), col("pid") + 1)
    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withPid
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w), lit(0L)) + prefixCol)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before div ${budget}L").as("seq_id"),
        (col("cum_before") % budget).as("seq_offset"))
  }

  /** Corpus-quantile quality gate: keep documents whose lexical
    * diversity (`distinct_permille`, an exact integer in [0,1000]) is at
    * or above the EXACT q-quantile of the corpus distribution — "drop
    * the worst quartile" at qPermille=250. The quantile is rank-defined
    * (the value at ascending rank ceil(qPermille·N/1000)) and the
    * quantile itself is an integer permille, so the rank predicate is
    * PURE INTEGER arithmetic — `1000·cum >= qPermille·N` — with no
    * float ceil anywhere (0.31*100 is 31.000000000000004 in double;
    * ceil of that is 32, not the 31 the contract promises).
    *
    * Zero-token documents are dropped by definition (no diversity score
    * exists for them) — made EXPLICIT here rather than letting NULL
    * ordering decide: Spark windows sort NULLs first, DuckDB row_number
    * sorts them last, so a NULL score group would shift the rank
    * threshold differently in the two engines.
    *
    * Exact quantiles normally need a global sort; integer-permille
    * scores make a histogram route exact AND scale-free: one
    * aggregation to <=1001 (value, count) rows, cumulative + grand
    * totals over that BOUNDED histogram (single-partition windows over
    * <=1001 rows — bounded by the value domain, not the corpus), and a
    * one-row broadcast of the threshold back onto the scored corpus.
    * Cost at any corpus size: the narrow scoring pass runs twice (once
    * into the histogram, once under the final filter — at 100 TB you
    * would persist the score column instead) plus one tiny shuffle;
    * the same shape `approx_percentile` would cost, but exact.
    */
  def qualityGate(docs: DataFrame, qPermille: Int = 250): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scorable = docs.filter(size(tokenizeWs(col("text"))) > 0)
    val scored = TextAnalysis.quality(scorable)
      .select(col("doc_id"), col("distinct_permille"))
    val hist = scored.groupBy("distinct_permille").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("distinct_permille")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("distinct_permille")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // cum >= ceil(qPermille·n/1000)  ⟺  1000·cum >= qPermille·n
    val threshold = hist
      .select(col("distinct_permille"),
        sum("cnt").over(wCum).as("cum"), sum("cnt").over(wAll).as("n"))
      .filter(col("cum") * 1000 >= col("n") * qPermille)
      .agg(min("distinct_permille").as("p_threshold"))
    scored
      .crossJoin(broadcast(threshold))
      .filter(col("distinct_permille") >= col("p_threshold"))
  }

  /** Fixed-size sliding-window token chunking with stride — the
    * long-document complement of `packSequences` (which CONCATENATES
    * short docs; this SPLITS long ones): every `stride`-aligned window
    * of up to `chunkSize` tokens becomes one row, the standard
    * context-window / RAG-passage preparation step (overlap =
    * chunkSize − stride keeps boundary-spanning content retrievable).
    * Contract: one chunk per window start in {0, stride, 2·stride, …}
    * strictly below the token count (so trailing sub-stride windows ARE
    * emitted — the simple rule both engines state identically); chunk
    * text is the tokens rejoined on single spaces (whitespace runs
    * normalize); zero-token docs emit nothing.
    *
    * Scale posture: a pure narrow per-row projection — tokenize, one
    * `sequence`/`explode` over the window starts, `slice`+`array_join`
    * per chunk. No shuffle anywhere; output size is input tokens ×
    * (chunkSize/stride) by construction, and the whole pipeline stays
    * in one WholeStageCodegen span over the documents scan.
    */
  def chunkDocuments(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"chunking needs 1 <= stride <= chunkSize: size=$chunkSize stride=$stride")
    docs
      .select(col("doc_id"), tokenizeWs(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - 1, lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        least(lit(chunkSize), size(col("tk")) - col("start")).cast("int")
          .as("n_chunk_tokens"),
        array_join(slice(col("tk"), col("start") + 1, lit(chunkSize)), " ").as("chunk"))
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    * A-Res): rank every row by key u^(1/w) — equivalently ln(u)/w —
    * with u a uniform draw, and keep the top n; inclusion probability
    * is proportional-ish to the weight, the standard quality- or
    * length-weighted corpus subsample. DETERMINISTIC: u derives from
    * splitmix64(doc_id) (the `cu_split`/KMV hash discipline; +1 on the
    * 53-bit mantissa so u ∈ (0, 1] and ln never sees 0), and the key is
    * QUANTIZED to round(ln(u)/w·10⁶) BIGINT — the ta_nb_langid ln
    * portability contract — so the ranking is bit-portable and an
    * oracle re-derives it; quantization near-ties break on doc_id.
    * Zero/negative-weight rows are never sampled (filtered, both
    * sides).
    *
    * Scale posture: one narrow codegen'd projection (the only UDF is
    * the wrapping-multiply hash, the established exception) + a bounded
    * TakeOrderedAndProject — no shuffle beyond the top-n merge, no
    * per-group state.
    */
  def weightedSample(docs: DataFrame, weightCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"weightedSample needs n >= 1: $n")
    val u = udf { id: Long =>
      ((Dedup.mix64(id) >>> 11) + 1).toDouble / 9007199254740992.0
    }
    docs.filter(weightCol > 0)
      .select(col("doc_id"), weightCol.cast("bigint").as("weight"),
        round(log(u(col("doc_id"))) / weightCol * 1000000).cast("bigint")
          .as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id")).limit(n)
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", reduced to its
    * exactly-reproducible unigram core): score every document by how
    * much more likely its tokens are under the TARGET distribution
    * (the rows where `isTarget`) than under the RAW corpus — the
    * per-doc sum over token occurrences of
    * ln P̂_target(w) − ln P̂_raw(w), both add-one smoothed over the raw
    * vocabulary. Selecting the top-scored documents shifts a crawl
    * toward a curated reference distribution. Output: (doc_id,
    * n_tokens, dsir_score), score quantized like ta_nb_langid — each
    * log-likelihood is round(ln(p)·10⁶) BIGINT at MODEL time, so the
    * per-doc fold is exact integer arithmetic: order-independent under
    * any partitioning and oracle-re-derivable with no float-association
    * hazard.
    *
    * Scale posture (the nbClassify shape): ONE pass over the exploded
    * corpus builds the (token, raw-count, target-count) table — target
    * counts ride the same aggregation as a conditional sum, so the
    * target subset is never re-scanned; the totals and vocab size
    * DERIVE from that table (model-sized, not corpus-sized). Scoring
    * is the model join on token + one keyed per-doc sum. The model is
    * vocab-bounded; `broadcastModel` is the same size dial as
    * nbClassify's for a web-scale vocabulary (false → shuffled hash
    * join, same rows, no memory ceiling).
    */
  // r13 note: a one-pass rewrite (single corpus explode into a
  // (doc, tgt, token, occ) table feeding BOTH the count-table
  // re-aggregation and the scoring join) was implemented and measured
  // against this composition (OPTIMIZATION_r13.md §4, 5 interleaved warm
  // passes at sf0.1): medians 0.635 s vs 0.629 s — parity. The second
  // explode here partial-aggregates map-side straight to vocabulary
  // size, so it costs one tokenization pass but no corpus-scale
  // shuffle, while the one-pass shape must shuffle the corpus-sized
  // (doc_id, token) occurrence table for BOTH consumers. Kept the
  // two-explode composition: same speed, shares the live-maintainer
  // contract, and cu_dsir's duplicated model-subtree exchanges are
  // already deduplicated at runtime by AQE's stage cache
  // (ReusedExchange in plans/r13/cu_dsir_after.txt).
  def dsirScore(docs: DataFrame, isTarget: Column,
      broadcastModel: Boolean = true): DataFrame =
    dsirScoreWith(docs, dsirModel(dsirCounts(docs, isTarget)), broadcastModel)

  /** The (token, cr, ct) count table — raw-corpus and target occurrence
    * counts in ONE pass over the exploded corpus (target counts ride as
    * a conditional sum). This is the ADDITIVE state a live maintainer
    * persists per batch: summing per-batch tables reproduces the
    * one-pass table exactly (integer sums are associative), which is
    * what lets `cu_live_dsir` share `cu_dsir`'s oracle verbatim.
    */
  def dsirCounts(docs: DataFrame, isTarget: Column): DataFrame =
    docs.select(col("doc_id"), isTarget.as("tgt"),
        explode(tokenizeWs(col("text"))).as("token"))
      .groupBy("token").agg(
        count(lit(1)).as("cr"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))

  /** The quantized log-likelihood-ratio model from a count table:
    * totals and vocabulary size DERIVE from it (model-sized frames),
    * each ln quantized to round(·10⁶) BIGINT at model time.
    */
  def dsirModel(cnt: DataFrame): DataFrame = {
    val scale = lit(1000000.0)
    val tot = cnt.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"),
      count(lit(1)).as("v"))
    cnt.crossJoin(broadcast(tot))
      .select(col("token"),
        (round(log((col("ct") + lit(1)).cast("double") /
            (col("tt") + col("v")).cast("double")) * scale).cast("bigint") -
          round(log((col("cr") + lit(1)).cast("double") /
            (col("tr") + col("v")).cast("double")) * scale).cast("bigint"))
          .as("lr"))
  }

  /** The documented OOV floor from a count table: the quantized
    * log-ratio of a ZERO-count token under both add-one-smoothed
    * distributions — round(ln(1/(tt+v))·10⁶) − round(ln(1/(tr+v))·10⁶),
    * i.e. exactly what `dsirModel` would assign a token it never saw.
    * One aggregate over the model-sized table (3 longs to the driver);
    * pair with `dsirScoreWith(oovLr = Some(dsirOovFloor(cnt)))` for the
    * live-serving shape. HALF_UP rounding matches the model's
    * `round()·cast(bigint)` quantization on both engines.
    */
  def dsirOovFloor(cnt: DataFrame): Long = {
    val r = cnt.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"),
      count(lit(1)).as("v")).head
    // sum() over zero rows is null — surface the empty model as the
    // contract violation it is, not an opaque NPE on the serving path
    if (r.isNullAt(0))
      throw new IllegalStateException("dsirOovFloor: empty count table (no model)")
    val (tr, tt, v) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def q(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    q(math.log(1.0 / (tt + v))) - q(math.log(1.0 / (tr + v)))
  }

  /** The add-one OOV floor as a ONE-ROW IN-PLAN frame derived from the
    * count table — `dsirOovFloor`'s number without its eager driver
    * action, which executes the corpus-scale `cnt` subtree once more
    * per invocation ON TOP of the model subtree's own evaluation
    * (cu_dsir_oov paid the corpus tokenize+aggregate three times per
    * call; with the floor in-plan it is twice, and the floor/model
    * copies of `cnt` share one exchange via AQE stage reuse —
    * plans/r13/cu_dsir_oov_after.txt). A/B medians (OPTIMIZATION_r13.md §4,
    * two runs): 0.851→0.699 s and 0.873→0.742 s.
    *
    * Bit-identical to `dsirOovFloor`: Spark's `round()` on a double is
    * the same BigDecimal.valueOf(d).setScale(0, HALF_UP) path q() uses
    * (scala BigDecimal(d) = BigDecimal.decimal(d) since 2.11), and
    * ln/÷ are the same java.lang.Math double ops — so
    * `coalesce(lr, oov_lr)` folds the exact Longs the driver-side
    * constant would. `dsirOovFloor` (the eager Long) remains the
    * live-serving contract, where the floor must be computable from a
    * persisted count table without the corpus.
    */
  def dsirOovFloorFrame(cnt: DataFrame): DataFrame = {
    val scale = lit(1000000.0)
    cnt
      .agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"),
        count(lit(1)).as("v"))
      .select((round(log(lit(1.0) / (col("tt") + col("v")).cast("double")) * scale)
          .cast("bigint") -
        round(log(lit(1.0) / (col("tr") + col("v")).cast("double")) * scale)
          .cast("bigint")).as("oov_lr"))
  }

  /** `dsirScoreWith(docs, dsirModel(cnt), oovLr = Some(dsirOovFloor(cnt)))`
    * with the floor IN-PLAN (`dsirOovFloorFrame`) — same rows, same
    * hash, one less eager corpus pass per invocation. The scoring join
    * and fold are dsirScoreWith's, with the floor broadcast-crossed in
    * as a column instead of a literal.
    */
  def dsirScoreWithFloor(docs: DataFrame, cnt: DataFrame,
      broadcastModel: Boolean = true): DataFrame = {
    val occ = docs.select(col("doc_id"),
        explode(tokenizeWs(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("occ"))
    val model = dsirModel(cnt)
    val modelSide = if (broadcastModel) broadcast(model) else model
    occ.join(modelSide, Seq("token"), "left")
      .crossJoin(broadcast(dsirOovFloorFrame(cnt)))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_tokens"),
        sum(col("occ") * coalesce(col("lr"), col("oov_lr"))).as("dsir_score"))
  }

  /** Score `docs` against a (token, lr) model — the serving side:
    * per-doc occurrence counts join the model (broadcast by default,
    * `broadcastModel = false` for a web-scale vocabulary) and fold an
    * exact integer sum.
    *
    * OOV CONTRACT: by default, tokens absent from the model are
    * DROPPED — they contribute to neither `dsir_score` nor `n_tokens`
    * (the `nbClassify` precedent: unseen tokens carry no likelihood
    * evidence). That is exact when the model was trained on the scored
    * corpus (the batch shape, and what `cu_dsir`'s oracle re-derives),
    * but in the live deployment — scoring an INCOMING batch against
    * the CURRENT model (`LiveDsirModelMaintainer.modelAt`) — new
    * vocabulary silently shrinks a document's token count. Pass
    * `oovLr = Some(q)` to instead count every OOV occurrence in
    * `n_tokens` and score it at the fixed quantized log-ratio `q` —
    * the add-one floor `round(ln(1/(tt+v))·10⁶) − round(ln(1/(tr+v))·10⁶)`
    * (a zero-count token under both smoothed distributions) is the
    * principled choice, computable from the live store's count table.
    * Still integer-exact: the OOV branch folds the same BIGINT
    * arithmetic, so order-independence under partitioning is unchanged.
    */
  def dsirScoreWith(docs: DataFrame, model: DataFrame,
      broadcastModel: Boolean = true, oovLr: Option[Long] = None): DataFrame = {
    val occ = docs.select(col("doc_id"),
        explode(tokenizeWs(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("occ"))
    val modelSide = if (broadcastModel) broadcast(model) else model
    oovLr match {
      case None =>
        occ.join(modelSide, "token")
          .groupBy("doc_id")
          .agg(sum(col("occ")).as("n_tokens"),
            sum(col("occ") * col("lr")).as("dsir_score"))
      case Some(q) =>
        occ.join(modelSide, Seq("token"), "left")
          .groupBy("doc_id")
          .agg(sum(col("occ")).as("n_tokens"),
            sum(col("occ") * coalesce(col("lr"), lit(q))).as("dsir_score"))
    }
  }
}
