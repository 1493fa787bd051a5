package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine is the exactness baseline; random-hyperplane LSH
  * bucketing is the scale path (candidates per bucket, then exact rerank).
  * All math is built-in higher-order functions (`zip_with` + `aggregate`)
  * — codegen'd, no UDF on the hot path.
  */
object Similarity {

  /** Double-precision sequential dot product — deterministic regardless
    * of task placement. A NATIVE Catalyst expression
    * (`plans/VectorExpressions.DotProduct`): participates in whole-stage
    * codegen and reads Tungsten `ArrayData` in place — no per-row
    * `Seq[Float]` materialization (a Scala UDF's boxing tax) and no
    * per-element interpretation (higher-order `aggregate`/`zip_with`'s
    * tax) on the millions-of-pairs scoring path. Callers must register
    * `GraftFunctions` on the session first (each public op here does).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** All pairs (a < b) with cosine ≥ tau — the exact O(n²) baseline that
    * validates the LSH path (at full corpus scale you run `lshPairs`).
    *
    * Block-nested-loop shape: vectors are grouped into `blocks` chunks
    * and every block PAIR (i ≤ j) is one task's work unit. NO driver
    * collect and NO broadcast — each side of a block pair arrives via a
    * keyed shuffle, task memory is bounded by two blocks, and the
    * replication factor is `blocks` (≈ √tasks), the classic distributed
    * all-pairs layout. The inner loop stays a JIT'd while-loop over
    * primitive arrays (~20× over interpreted expression-tree scoring on
    * millions of pairs).
    */
  /** Row count memo keyed by the CANONICALIZED PLAN STRING, not the
    * 32-bit semanticHash: a hash collision here would reuse the wrong
    * count and mis-size block geometry (the 2 GB-row hazard the dynamic
    * sizing exists to prevent) — unlike a cache-key miss, that is
    * job-breaking, so the key must be collision-free. Stale-after-
    * overwrite caveat as Dedup's probeMemo (immutable-snapshot
    * assumption); bounded-clear, same discipline.
    */
  private val countMemo = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def memoCount(df: DataFrame): Long = {
    val k = df.queryExecution.analyzed.canonicalized.toString
    if (!countMemo.contains(k) && countMemo.size > 64) countMemo.clear()
    countMemo.getOrElseUpdate(k, df.count())
  }

  def bruteForcePairs(emb: DataFrame, tau: Double, blocks: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Size blocks so one block (one grouped row) stays ~tens of MB: a
    // fixed block count would concentrate corpus/blocks vectors into a
    // single Tungsten row and overflow its 2 GB limit at scale. One
    // count() job is noise next to the O(n²) work this op does anyway.
    val nBlocks =
      if (blocks > 0) blocks
      else math.max(8, math.ceil(memoCount(emb) / 16384.0).toInt)
    val grouped = emb.select(
        pmod(col("vec_id"), lit(nBlocks)).cast("int").as("blk"),
        col("vec_id").cast("long").as("id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .mapGroups { (blk, it) =>
        val vs = it.toArray.sortBy(_._2)
        val norms = vs.map { case (_, _, v) =>
          val n = math.sqrt(rawDot(v, v)); if (n == 0) 1.0 else n
        }
        (blk, vs.map(_._2), vs.map(_._3), norms)
      }
      .toDF("blk", "ids", "embs", "nrms")
    val bp = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("bi", "bj")
    bp
      .join(grouped.select(col("blk").as("bi"), col("ids").as("ia"),
        col("embs").as("ea"), col("nrms").as("na")), Seq("bi"))
      .join(grouped.select(col("blk").as("bj"), col("ids").as("ib"),
        col("embs").as("eb"), col("nrms").as("nb")), Seq("bj"))
      .select(col("ia"), col("ea"), col("na"), col("ib"), col("eb"), col("nb"),
        (col("bi") === col("bj")).as("same"))
      .as[(Array[Long], Array[Array[Float]], Array[Double],
           Array[Long], Array[Array[Float]], Array[Double], Boolean)]
      .flatMap { case (ia, ea, na, ib, eb, nb, same) =>
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < ia.length) {
          var j = if (same) i + 1 else 0
          while (j < ib.length) {
            val c = rawDot(ea(i), eb(j)) / (na(i) * nb(j))
            if (c >= tau) {
              val (a, b) =
                if (ia(i) < ib(j)) (ia(i), ib(j)) else (ib(j), ia(i))
              out += ((a, b, c))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("a", "b", "c")
      .select(col("a"), col("b"), round(col("c"), 4).as("cosine"))
  }

  private def rawDot(x: Array[Float], y: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  // ---- the vector-search stages ------------------------------------------
  //
  // Every search below is a candidate source (all rows, probed IVF cells
  // or PQ codes), an exact cosine rerank and a per-query result shape,
  // composed from these stages — one query projection, one cosine, one
  // scored join, one ranking window, one cell probe.

  /** Query vectors as the broadcast side of a scored join: (query_id,
    * qemb, qnrm) plus `extra`.
    */
  private def queryRows(queries: DataFrame, extra: Column*): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    queries.select(Seq(col("vec_id").as("query_id"), col("embedding").as("qemb"),
      norm(col("embedding")).as("qnrm")) ++ extra: _*)
  }

  /** Corpus vectors with their norm — the brute-force candidate source
    * (`IvfIndex.assigned` carries the same `nrm`, computed at assignment).
    */
  private def corpusRows(emb: DataFrame, extra: Column*): DataFrame = {
    graft.plans.GraftFunctions.register(emb.sparkSession)
    emb.select(Seq(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")) ++ extra: _*)
  }

  /** Exact cosine of a candidate (embedding, nrm) and its query (qemb, qnrm). */
  private def exactCosine: Column =
    (dot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm"))).as("cosine")

  /** The scored join: candidate rows to broadcast query rows, projected
    * to (query_id, neighbor_id, `cols`…). With `onCell` the query rows
    * carry their probed cells and the join is the equi-join on `cell`
    * (IVF); otherwise it is the nested-loop `vec_id =!= query_id` join
    * (brute force). `excludeSelf = false` is for EXTERNAL query vectors
    * (e.g. /ann?q=…) on the cell join: their query_id is a placeholder,
    * and filtering on it would silently drop any stored vector that
    * happens to share the id.
    */
  private def scoredJoin(corpus: DataFrame, qs: DataFrame, onCell: Boolean,
      cols: Seq[Column] = Seq(exactCosine), excludeSelf: Boolean = true): DataFrame = {
    val joined =
      if (!onCell) corpus.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      else {
        val j = corpus.join(broadcast(qs), Seq("cell"))
        if (excludeSelf) j.filter(col("vec_id") =!= col("query_id")) else j
      }
    joined.select(Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++ cols: _*)
  }

  /** Brute force: every corpus row scored against every other query. */
  private def flatScored(emb: DataFrame, queries: DataFrame,
      cols: Seq[Column] = Seq(exactCosine)): DataFrame =
    scoredJoin(corpusRows(emb), queryRows(queries), onCell = false, cols)

  /** The per-query ranking: row numbers by (`key` desc, neighbor_id) as
    * `rank`, first `k` kept (a WindowGroupLimit keeps per-task state at
    * `k` rows). The unrounded key orders; ties break by neighbor id.
    */
  private def ranked(scored: DataFrame, k: Int, key: String = "cosine"): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col(key).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The top-k result: (query_id, rank, neighbor_id, cosine to 4 dp). */
  private def topKOf(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, k).select(col("query_id"), col("rank"), col("neighbor_id"),
      round(col("cosine"), 4).as("cosine"))

  /** The range result: every scored row whose UNROUNDED cosine is ≥
    * `tau`, as (query_id, neighbor_id, cosine to 4 dp).
    */
  private def rangeOf(scored: DataFrame, tau: Double): DataFrame =
    scored.filter(col("cosine") >= tau)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))

  /** Brute-force top-k neighbors for a set of query vectors (broadcast
    * the queries — they are small by definition; the corpus streams).
    */
  def topK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKOf(flatScored(emb, queries), k)

  /** Radius (range) search: every corpus neighbor with cosine ≥ `tau`
    * of each query vector — the all-neighbors companion to `topK`
    * (near-dup thresholding, similarity-graph construction, "everything
    * close enough" retrieval). NO window anywhere: the scored join
    * filters on the threshold directly, so the plan is broadcast
    * queries × streamed corpus + one codegen'd filter — nothing is
    * globally sorted and no task holds more than its input split
    * (contrast `topK`'s bounded per-query window, which this op does
    * not need). The threshold compares the UNROUNDED cosine (the same
    * value `topK` orders by); the returned column is rounded to 4 dp
    * for display/oracle portability. Composes over any candidate
    * source like the other exact producers (IVF cells / LSH buckets
    * prefilter, this thresholds the verified candidates).
    */
  def rangeSearch(emb: DataFrame, queries: DataFrame, tau: Double): DataFrame =
    rangeOf(flatScored(emb, queries), tau)

  /** k-NN majority-vote classification: each query vector takes the modal
    * label among its k nearest CORPUS neighbors by exact cosine (most
    * votes wins; vote ties break to the smallest label). The neighbor
    * source is pluggable: the default exact `topK` is the correctness
    * baseline; at scale pass an ANN candidate generator of the same
    * (query_id, rank, neighbor_id, …) shape (e.g. built on `ivfTopKWith`)
    * — the label join and per-query argmax are identical either way.
    *
    * Scale posture: neighbors are a bounded (|queries|·k)-row set; the
    * label join keys on vec_id (corpus-partitioned, with the small
    * neighbor side broadcastable); the argmax window partitions BY QUERY
    * over ≤k rows per query — never unpartitioned, never corpus-wide.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      neighbors: (DataFrame, DataFrame, Int) => DataFrame = topK): DataFrame = {
    val nn = neighbors(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val labels = corpus.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = nn.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"),
        col("label").cast("bigint").as("predicted_label"),
        col("votes").cast("bigint").as("votes"))
  }

  // ---- IVF (inverted-file) ANN ------------------------------------------

  /** Train IVF centroids: deterministic init (first k by vec_id), then
    * `iters` Lloyd steps computed distributively (posexplode → per-(cell,
    * dim) mean → collect k×dim — driver state is bounded by k·dim, never
    * by corpus size). Returns the centroid matrix.
    */
  def trainIvf(emb: DataFrame, k: Int, iters: Int = 2): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] = emb.orderBy("vec_id").limit(k)
      .select("embedding").as[Array[Float]].collect().map(_.map(_.toDouble))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val assigned = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (_, v) => (nearestCell(v, bc.value), v) }
        .toDF("cell", "v")
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg(col("x")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      updated.foreach(r => next(r.getAs[Int]("cell"))(r.getAs[Int]("dim")) = r.getAs[Double]("m"))
      cents = next
    }
    cents
  }

  /** Nearest centroid (or PQ codeword) by squared L2: strict `<` keeps
    * the LOWEST index on ties — the oracles' `ORDER BY d, cell` (`code`)
    * tie-break.
    */
  def nearestCell(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Squared L2 over the common prefix, folded in dimension order — the
    * one distance behind cell assignment, the cell probe, PQ encoding
    * and the ADC table.
    */
  private def sqDist(v: Array[Float], ct: Array[Double]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(v.length, ct.length)
    while (i < n) { val t = v(i) - ct(i); d += t * t; i += 1 }
    d
  }

  /** IVF-accelerated top-k: corpus partitioned into k cells (one narrow
    * shuffle on cell id); each query probes its `nprobe` nearest cells and
    * exact-reranks only those — the classic recall/cost dial. One-shot
    * convenience over `buildIvf` + `ivfTopKWith` (single implementation,
    * so the two forms cannot drift); at 100 TB build the index once at
    * ingest and probe it instead.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, cells: Int = 16, nprobe: Int = 4)
      : DataFrame =
    ivfTopKWith(buildIvf(emb, cells, persist = false), queries, k, nprobe)

  /** Rademacher (±1) hyperplane weight for global plane `pidx`,
    * dimension `d`: the sign bit of fnv1a over the two values. Sign-LSH
    * with ±1 planes (Achlioptas-style sparse projections) preserves the
    * angular locality property of Gaussian planes, and — unlike seeded
    * Gaussians — is a pure integer-hash function both this engine and a
    * SQL oracle can compute bit-identically, which is what lets the LSH
    * queries be verified cell-exact end-to-end.
    */
  private[pipeline] def planeWeight(pidx: Int, d: Int): Double = {
    val Prime = 0x100000001b3L
    var h = 0xcbf29ce484222325L
    h = (h ^ pidx) * Prime
    h = (h ^ d) * Prime
    // murmur3 fmix64 finalizer: raw fnv1a over two sub-byte inputs never
    // avalanches into the high bits (empirically the top bit is 0 for all
    // 4096 (pidx, d) pairs used here), so the sign must come from a mixed
    // hash or every plane degenerates to the all-(-1) vector
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
    if (h < 0) 1.0 else -1.0 // top bit of the unsigned hash
  }

  /** Compiled per-table bucket computation: for each of `tables` tables,
    * `bits` sign bits of dots with fixed pseudo-random ±1 hyperplanes
    * (`planeWeight`, planes `planeOffset + t*bits + p`), packed MSB-first
    * into a Long. One JIT'd UDF pass — the equivalent nested
    * `transform`/`aggregate`/`zip_with` HOF expression evaluates
    * interpreted per element, which at tables×bits×dim multiply-adds per
    * vector dominates a corpus-wide signature pass. For non-null
    * vectors of the declared dim the arithmetic is bit-identical to the
    * HOF form (sequential double fold over dimensions, same order) —
    * pinned by a PipelineSpec metamorphic test — so the SQL oracles
    * verify it unchanged.
    */
  private def bucketsUdf(dim: Int, bits: Int, tables: Int, planeOffset: Int) = {
    val planes: Array[Array[Array[Double]]] = Array.tabulate(tables) { t =>
      Array.tabulate(bits)(p => Array.tabulate(dim)(d => planeWeight(planeOffset + t * bits + p, d)))
    }
    // null embedding → null buckets: the row then joins no bucket and
    // emits nothing — the same END result as the HOF form (which put
    // null vectors in bucket 0, where the exact rerank's null cosine
    // filtered them out), without a task-killing NPE. Short/long
    // vectors fold over min(len, dim), like graft_dot and nearestCell.
    udf { v: Seq[Float] =>
      if (v == null) null
      else {
        val arr = v.toArray
        Array.tabulate(tables) { t =>
          var bucket = 0L
          var p = 0
          while (p < bits) {
            val pl = planes(t)(p)
            var s = 0.0
            var d = 0
            val n = math.min(arr.length, pl.length)
            while (d < n) { s += arr(d).toDouble * pl(d); d += 1 }
            bucket = bucket * 2 + (if (s >= 0) 1L else 0L)
            p += 1
          }
          bucket
        }
      }
    }
  }

  /** Random-hyperplane LSH signature: `bits` sign bits of dots with fixed
    * pseudo-random ±1 hyperplanes (`planeWeight`, planes `planeOffset`
    * until `planeOffset + bits`). Vectors sharing a signature bucket are
    * near-duplicate candidates. This is the 100 TB path: one narrow
    * shuffle on the bucket key, quadratic work only within buckets.
    */
  def lshBuckets(emb: DataFrame, dim: Int, bits: Int, planeOffset: Int = 0): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      bucketsUdf(dim, bits, tables = 1, planeOffset)(col("embedding")).getItem(0).as("bucket"))

  /** LSH-accelerated near-neighbor pairs: bucket-join candidates
    * (`Banding.bandPairs`, `Self`), exact cosine rerank, threshold.
    * Approximate (recall < 1) by construction.
    */
  def lshPairs(emb: DataFrame, dim: Int, tau: Double, bits: Int = 8): DataFrame = {
    // no cache: the self-join shuffles both sides identically, so the
    // bucket projection runs once under ReusedExchange — and nothing is
    // left pinned in the storage pool after the query
    val b = lshBuckets(emb, dim, bits)
    cosineVerified(
      Banding.bandPairs(b, b, Banding.Self, "vec_id", Seq("bucket"), Seq("embedding")), tau)
  }

  /** Cosine verify: candidates (a, b, a_embedding, b_embedding) with cosine ≥ `tau`, to 4 dp. */
  private def cosineVerified(candidates: DataFrame, tau: Double): DataFrame = {
    graft.plans.GraftFunctions.register(candidates.sparkSession)
    candidates
      .select(col("a"), col("b"), cosine(col("a_embedding"), col("b_embedding")).as("cosine"))
      .filter(col("cosine") >= tau)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Multi-table LSH — the recall dial single-table banding lacks: L
    * independent hyperplane tables of b bits each; a pair is a candidate
    * if ANY table buckets it together, so P(miss) = (1-p^b)^L with
    * p = 1-θ/π. Defaults b=8, L=8: at cosine 0.9 (p ≈ 0.856, p^8 ≈
    * 0.29) miss ≈ 0.06, vs ≈ 0.71 for one 8-bit table — while random
    * pairs collide with prob ≈ L/2^b ≈ 3%, keeping the candidate set
    * sub-quadratic. `bits` is the precision dial and must GROW with
    * corpus size (≈ log2(n) keeps per-bucket occupancy constant);
    * `tables` is the recall dial. Cost: L narrow shuffles on small keys
    * + exact rerank on the deduped candidate union.
    */
  def lshPairsMulti(
      emb: DataFrame, dim: Int, tau: Double, bits: Int = 8, tables: Int = 8): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    // ALL tables' buckets in ONE compiled projection pass (`bucketsUdf`),
    // posexplode to (vec_id, table, bucket). One scan instead of `tables`
    // scans — and no cache to leak (the self-join's identical shuffle is
    // reused by Spark's ReusedExchange, so the projection still runs
    // once). Per-table planes are IDENTICAL to
    // lshBuckets(planeOffset = t·bits), so table 0 reproduces the
    // single-table query exactly.
    val b = e.select(col("vec_id"),
      posexplode(bucketsUdf(dim, bits, tables, planeOffset = 0)(col("embedding")))
        .as(Seq("table", "bucket")))
    val candidates = Banding.bandPairs(b, b, Banding.Self, "vec_id", Seq("table", "bucket"))
      .distinct() // dedup across tables BEFORE the exact rerank
    cosineVerified(candidates
      .join(e.select(col("vec_id").as("a"), col("embedding").as("a_embedding")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("b_embedding")), Seq("b")), tau)
  }

  // ---- random projection (JL embedding compression) -----------------------

  /** Plane block reserved for `randomProject` — disjoint from the LSH
    * tables' planes 0..(tables·bits−1), so projections and LSH buckets
    * stay independent hash draws.
    */
  val RpPlaneOffset = 2048

  /** Rademacher random projection (Achlioptas 2003's database-friendly
    * JL transform): component j of the output is the dot of the input
    * with a fixed ±1 hyperplane — the SAME portable `planeWeight`
    * planes as the LSH family, but keeping the real-valued dots the
    * sign-LSH quantizes to bits. `outDim` ≪ `dim` compresses the
    * embedding column (64→16 = 4× less storage and 4× cheaper dots)
    * while approximately preserving angles (JL lemma), making the
    * projected table the cheap FIRST-PASS scan of a two-stage exact
    * search. One compiled narrow pass, like `bucketsUdf`; null vectors
    * stay null.
    */
  def randomProject(emb: DataFrame, dim: Int, outDim: Int = 16): DataFrame = {
    val planes: Array[Array[Double]] =
      Array.tabulate(outDim)(j => Array.tabulate(dim)(d => planeWeight(RpPlaneOffset + j, d)))
    val rp = udf { v: Seq[Float] =>
      if (v == null) null
      else {
        val arr = v.toArray
        planes.map { pl =>
          var s = 0.0
          var d = 0
          val n = math.min(arr.length, pl.length)
          while (d < n) { s += arr(d).toDouble * pl(d); d += 1 }
          s
        }.toSeq
      }
    }
    emb.select(col("vec_id"), col("embedding"), rp(col("embedding")).as("rp"))
  }

  /** Top-k in the PROJECTED space, with the true cosine reported beside
    * the projected one — the compression-quality witness. The scored
    * join computes both cosines in one pass over (embedding, rp) pairs
    * (no second join back to the corpus), the ranking key is the
    * projected cosine, and the dots run through the codegen'd
    * `graft_dot` in both spaces (float corpus arrays, double projected
    * arrays). At 100 TB the projected table persists at ingest
    * (`randomProject` once), this scan reads ONLY the narrow rp column
    * for ranking, and a rerank stage re-orders the top candidates by
    * true cosine — the brute first stage at a quarter of the I/O and
    * FLOPs.
    */
  def rpTopK(emb: DataFrame, queries: DataFrame, k: Int, dim: Int,
      outDim: Int = 16): DataFrame = {
    val corpus = corpusRows(randomProject(emb, dim, outDim),
      col("rp"), norm(col("rp")).as("rnrm"))
    val qs = queryRows(randomProject(queries, dim, outDim),
      col("rp").as("qrp"), norm(col("rp")).as("qrnrm"))
    val scored = scoredJoin(corpus, qs, onCell = false, Seq(
      (dot(col("rp"), col("qrp")) / (col("rnrm") * col("qrnrm"))).as("rp_cosine"),
      exactCosine))
    ranked(scored, k, key = "rp_cosine")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("rp_cosine"), 4).as("rp_cosine"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** MMR diversified top-k (maximal marginal relevance, Carbonell &
    * Goldstein 1998): greedily select k results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    * standard redundancy-removing rerank over a similarity search
    * (a near-dup-heavy corpus otherwise fills the whole page with one
    * cluster). Two stages, the classic serving shape: (1) an exact
    * bounded pool per query — broadcast queries × streamed corpus,
    * WindowGroupLimit top-`pool` on unrounded cosine; (2) the
    * inherently-sequential greedy loop over the pool, run INSIDE the
    * per-query aggregation row (collect the ≤pool candidates, one UDF
    * pass) — distributed per query, never a driver loop, and bounded
    * by `pool`, not the corpus. Rank 1 is the plain argmax by
    * relevance and its mmr score is DEFINED as the relevance; later
    * ranks score λ·rel − (1−λ)·maxSim with ties broken by neighbor id.
    * All arithmetic is the shared sequential-fold cosine (float→double
    * promotion exact), so a SQL oracle re-derives pool, pair
    * similarities, and every greedy step bit-identically.
    */
  def mmrTopK(emb: DataFrame, queries: DataFrame, k: Int, pool: Int,
      lam: Double = 0.5): DataFrame = {
    require(k >= 1 && pool >= k, s"mmr needs 1 <= k <= pool: k=$k pool=$pool")
    mmrGreedy(flatScored(emb, queries, Seq(col("embedding"), exactCosine)), k, pool, lam)
  }

  /** MMR over a prebuilt IVF index — the at-scale pool producer: the
    * brute broadcast×corpus pool stage of `mmrTopK` is the one
    * quadratic trap in the family (query count ∝ corpus ⇒ n² probe
    * work), so here the pool comes from `ivfScored`'s probe-join-score
    * (nprobe/cells of the corpus per query, exact cosine, embedding
    * carried through for the greedy's pair similarities — no re-join).
    * Stage 2 (the per-query greedy) is unchanged and already
    * scale-correct: pool-bounded, distributed per query. Same recall
    * dial and degeneration discipline as `ivfTopKWith`/`rangeSearchWith`:
    * nprobe = cells EQUALS `mmrTopK` row-for-row (pinned in
    * PipelineSpec), and `allowed` composes the filtered-ANN pre-filter.
    */
  def mmrTopKWith(ivf: IvfIndex, queries: DataFrame, k: Int, pool: Int,
      lam: Double = 0.5, nprobe: Int = 4,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && pool >= k, s"mmr needs 1 <= k <= pool: k=$k pool=$pool")
    mmrGreedy(ivfScored(ivf, queries, nprobe, allowed, Seq(col("embedding"), exactCosine)),
      k, pool, lam)
  }

  /** Both MMR entry points over a scored candidate set (query_id,
    * neighbor_id, embedding, cosine): the top-`pool` relevance window,
    * then the inherently-sequential greedy loop over the pool, run
    * INSIDE the per-query aggregation row (collect the ≤pool candidates,
    * one UDF pass) — distributed per query, never a driver loop, bounded
    * by `pool`, not the corpus.
    */
  private def mmrGreedy(scored: DataFrame, k: Int, pool: Int, lam: Double): DataFrame = {
    // a null embedding yields a null cosine (dot is null-intolerant);
    // topK lets such rows sort last, but here they would NPE the
    // greedy's pair-cosine folds — excluded from the pool outright
    val pooled = ranked(scored.filter(col("cosine").isNotNull), pool)
    val greedy = udf { cands: Seq[org.apache.spark.sql.Row] =>
      val cs = cands.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Float](2).toArray)).toArray
      def cos(a: Array[Float], b: Array[Float]): Double =
        rawDot(a, b) / (math.sqrt(rawDot(a, a)) * math.sqrt(rawDot(b, b)))
      // emit the WHOLE pool in MMR order (the caller trims to k): the
      // unique-nid tiebreak makes every argmax unique, so set iteration
      // order cannot matter
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
      val left = scala.collection.mutable.Set(cs.indices: _*)
      while (left.nonEmpty) {
        def mmrScore(i: Int): Double =
          if (picked.isEmpty) cs(i)._2
          else {
            val maxSim = picked.map(p => cos(cs(i)._3, cs(p._1)._3)).max
            lam * cs(i)._2 - (1 - lam) * maxSim
          }
        val best = left.minBy(i => (-mmrScore(i), cs(i)._1))
        picked += ((best, cs(best)._1, cs(best)._2, mmrScore(best)))
        left -= best
      }
      picked.toSeq.zipWithIndex.map { case ((_, nid, rel, score), idx) =>
        (idx + 1, nid, rel, score)
      }
    }
    pooled
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("cosine"), col("embedding")))
        .as("cands"))
      .select(col("query_id"), explode(greedy(col("cands"))).as("pick"))
      .filter(col("pick._1") <= k)
      .select(col("query_id"), col("pick._1").as("rank"),
        col("pick._2").as("neighbor_id"),
        round(col("pick._3"), 4).as("cosine"),
        round(col("pick._4"), 4).as("mmr"))
  }

  // ---- persisted IVF index ------------------------------------------------

  /** A trained IVF index: centroid matrix + the corpus with its cell
    * assignment and norm precomputed — built ONCE at ingest, then any
    * number of query batches probe it (`ivfTopKWith`). At 100 TB
    * `assigned` persists as parquet partitioned by cell, so a probe
    * reads nprobe/cells of the corpus.
    */
  /** `pruneScan`: set on parquet-backed indexes (loadIvf) — probes then
    * pay one tiny query-side job to push their cell set into the scan as
    * a partition filter. Off for in-memory indexes, where the join on
    * `cell` already bounds the work and the extra job is pure overhead.
    */
  case class IvfIndex(
      cents: Array[Array[Double]], assigned: DataFrame, pruneScan: Boolean = false)

  /** Pass `cells = AutoCells` (the default) to size the cell count to
    * the corpus: ~√n clamped to [16, 4096]. A FIXED cell count is the
    * quadratic trap the round-10 sf10 scaling audit caught: with
    * constant cells, each probe reranks nprobe/cells of the CORPUS —
    * a constant fraction — so probe work grows n·(n·nprobe/cells) = n²
    * as corpus and query count scale together (measured: sim_ivf_topk
    * 1.0 s at 20k vectors → 167 s at 200k under cells=16). √n cells
    * keep per-cell size ~√n, so the same probe costs n^1.5 in
    * aggregate — the standard IVF sizing rule. Driver state stays
    * cells·dim doubles (≤ 4096·dim).
    */
  final val AutoCells = -1

  /** THE sizing rule, in one place: batch builds (`buildIvf`), the live
    * store's first train (`LiveAnnMaintainer`), and retrain-at-compaction
    * (`Compaction.compactAnn`) must all size by the same formula, or a
    * tuning edit leaves the three geometries silently divergent.
    */
  def autoCellCount(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  def buildIvf(
      emb: DataFrame, cells: Int = AutoCells, iters: Int = 2,
      persist: Boolean = true): IvfIndex = {
    val k =
      if (cells > 0) cells
      else autoCellCount(emb.count()) // build-time-only job; the index amortizes it
    val cents = trainIvf(emb, k, iters)
    val assigned = assignIvf(cents, emb)
    IvfIndex(cents, if (persist) assigned.cache() else assigned)
  }

  /** Nearest-centroid assignment of `emb` under FIXED centroids — the
    * half of `buildIvf` that is deterministic per vector, which is what
    * makes incremental ANN maintenance exact: assigning shard-by-shard
    * under frozen centroids yields row-identical state to assigning the
    * union (the `LiveAnnMaintainer` contract).
    */
  def assignIvf(cents: Array[Array[Double]], emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val bc = spark.sparkContext.broadcast(cents)
    val assignUdf = udf((v: Seq[Float]) => nearestCell(v.toArray, bc.value))
    emb.select(col("vec_id"), col("embedding"),
      assignUdf(col("embedding")).as("cell"), norm(col("embedding")).as("nrm"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup
    * removal made tractable by comparing embeddings only WITHIN their
    * k-means cluster. A vector drops iff a LOWER-id vector in the SAME
    * cell has cosine ≥ tau (the deterministic keep-one rule); pairs in
    * different cells are never compared — that is the approximation the
    * method trades for scale, and it is deliberate, not a bug: the
    * pairwise work is Σ(cell²) instead of corpus², and each cell's
    * self-join co-partitions on the cell key. Reuses the trained IVF
    * assignment (ingest-time artifact at 100 TB), so the marginal cost
    * over an existing index is one keyed self-join + verdict join.
    */
  def semDedup(ivf: IvfIndex, tau: Double): DataFrame = {
    val dropIds = cosineVerified(Banding.bandPairs(
        ivf.assigned, ivf.assigned, Banding.Self, "vec_id", Seq("cell"), Seq("embedding")), tau)
      .select(col("b").as("vec_id")).distinct()
    Dedup.keepDropVerdicts(ivf.assigned.select(col("vec_id"), col("cell")), dropIds, "vec_id")
  }

  /** Persist a trained IVF index: the assigned corpus as parquet
    * PARTITIONED BY cell (so a probe's scan prunes to its nprobe cells'
    * directories), centroids as a k-row table. This is the ingest-time
    * artifact the 100 TB serving path reads.
    */
  def saveIvf(ivf: IvfIndex, dir: String): Unit = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    ivf.assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    ivf.cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load a persisted IVF index. `assigned` stays parquet-backed:
    * probes through `ivfTopKWith` push their cell set into the scan as
    * a partition filter, so each probe reads ~nprobe/cells of the
    * corpus from storage — the posture that matters when the index
    * doesn't fit memory.
    */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/centroids")
      .select("cell", "centroid").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
    IvfIndex(cents, spark.read.parquet(s"$dir/assigned"), pruneScan = true)
  }

  // ---- PQ (product-quantization) ANN ------------------------------------

  /** A trained product quantizer: `books(m)(c)` is codeword `c` of
    * subspace `m` (each of length dim/m), `codes` the encoded corpus
    * (vec_id, embedding, code: array<int> of length m). At 100 TB the
    * codes table IS the point: m bytes per vector instead of dim floats
    * (32× at dim=64/m=8), so the scan that ADC-scores candidates reads
    * a fraction of the raw-embedding bytes.
    */
  case class PqIndex(books: Array[Array[Array[Double]]], codes: DataFrame)

  private def subvec(v: Array[Float], m: Int, subDim: Int): Array[Float] = {
    val out = new Array[Float](subDim); var j = 0
    while (j < subDim) { out(j) = v(m * subDim + j); j += 1 }
    out
  }

  /** Train a product quantizer: the embedding space splits into `m`
    * subspaces; each gets its own `k`-codeword k-means. Training runs on
    * a bounded DETERMINISTIC sample (first `trainN` by vec_id — a top-k
    * selection, not a global sort), so training cost is
    * corpus-independent — the standard posture at 100 TB, where
    * quantizers train on a sample and only ENCODING touches every row.
    * Each Lloyd iteration is ONE distributed job covering all m
    * subspaces (flatMap to (subspace, code, subvector) → per-(m, code,
    * dim) mean → collect m·k·subDim rows — driver state bounded by the
    * codebook size, never the corpus).
    */
  def trainPq(emb: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
      trainN: Int = 2048): Array[Array[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.orderBy("vec_id").limit(trainN)
      .select("embedding").as[Array[Float]].cache()
    val first = sample.take(k)
    val dim = first.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (mi, ci) =>
      subvec(first(ci % first.length), mi, subDim).map(_.toDouble)
    }
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val updated = sample
        .flatMap { v =>
          (0 until m).map { mi =>
            val sv = subvec(v, mi, subDim)
            (mi, nearestCell(sv, bc.value(mi)), sv.map(_.toDouble))
          }
        }
        .toDF("m", "code", "sv")
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy("m", "code", "d").agg(avg(col("x")).as("mu"))
        .collect()
      val next = books.map(_.map(_.clone()))
      updated.foreach { r =>
        next(r.getAs[Int]("m"))(r.getAs[Int]("code"))(r.getAs[Int]("d")) =
          r.getAs[Double]("mu")
      }
      books = next
    }
    sample.unpersist()
    books
  }

  /** Encode the corpus: one projection pass, broadcast codebooks. The
    * embedding column rides along because the serving path exact-reranks
    * its ADC shortlist; a pure-compression deployment would drop it.
    */
  def buildPq(emb: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
      trainN: Int = 2048): PqIndex = {
    val books = trainPq(emb, m, k, iters, trainN)
    PqIndex(books, encodePq(books, emb))
  }

  /** Encode `emb` under FIXED codebooks — the deterministic-per-vector
    * half of `buildPq` (the `assignIvf` analogue): encoding shard-by-
    * shard under frozen books is row-identical to encoding the union,
    * which is what makes incremental PQ maintenance exact
    * (`LiveAnnMaintainer` with `pqM > 0`).
    */
  def encodePq(books: Array[Array[Array[Double]]], emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val subDim = books.head.head.length
    val bc = spark.sparkContext.broadcast(books)
    val encodeUdf = udf((v: Seq[Float]) => {
      val a = v.toArray
      Array.tabulate(bc.value.length)(mi =>
        nearestCell(subvec(a, mi, subDim), bc.value(mi)))
    })
    emb.select(col("vec_id"), col("embedding"),
      encodeUdf(col("embedding")).as("code"))
  }

  /** ADC (asymmetric-distance) top-k over a PQ index with exact rerank:
    * each query precomputes an m×k table of subspace distances to every
    * codeword (tiny, broadcast with the queries); a coded corpus row's
    * approximate distance is then m table lookups summed IN SUBSPACE
    * ORDER (a fixed-order fold both engines reproduce bit-identically —
    * identical-code rows, e.g. planted duplicates, get bit-equal
    * distances so the neighbor_id tie-break is total). The ADC pass
    * selects a `shortlist`, and only those rows load real embeddings
    * for the exact cosine top-k — the classic two-stage PQ serving
    * pipeline. Corpus scan cost: one streamed pass over CODES (m bytes
    * per row), not embeddings.
    */
  def pqTopK(pq: PqIndex, queries: DataFrame, k: Int, shortlist: Int = 20): DataFrame =
    adcTopK(pq, None, queries, k, shortlist)

  /** IVF-PQ: the standard billion-scale ANN composition — IVF cells
    * prune WHICH candidates are scored (each query reads ~nprobe/cells
    * of the corpus), PQ codes cheapen HOW each candidate is scored
    * (m table lookups over m-byte codes instead of a dim-float dot
    * product), and the exact cosine rerank touches real embeddings for
    * shortlist·|queries| rows only. Both artifacts are independently
    * trained/oracled; this operator is their join on vec_id. The ADC
    * fold and all tie-breaks are identical to `pqTopK`, the probe rule
    * identical to `ivfTopKWith` — so the composed semantics stay
    * SQL-re-derivable from the two persisted training artifacts.
    */
  def ivfPqTopK(ivf: IvfIndex, pq: PqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, shortlist: Int = 20): DataFrame =
    adcTopK(pq, Some((ivf, nprobe)), queries, k, shortlist)

  /** The two-stage PQ search behind `pqTopK` and `ivfPqTopK`. Stage 1
    * ADC-scores candidates over CODES only (ids + m-byte codes, never
    * embeddings): every code, or with `ivf` the codes of each query's
    * `nprobe` probed cells. Each query's m×k table of subspace squared
    * distances to every codeword rides the broadcast; a code's distance
    * is its m table entries summed in subspace order. The `shortlist`
    * nearest by (adc, neighbor_id) go to stage 2, the exact cosine
    * rerank and top-k.
    */
  private def adcTopK(pq: PqIndex, ivf: Option[(IvfIndex, Int)], queries: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val m = pq.books.length
    val kCodes = pq.books.head.length
    val subDim = pq.books.head.head.length
    val bc = pq.codes.sparkSession.sparkContext.broadcast(pq.books)
    val adcTableUdf = udf((q: Seq[Float]) => {
      val a = q.toArray
      Array.tabulate(m) { mi =>
        val sv = subvec(a, mi, subDim)
        bc.value(mi).map(sqDist(sv, _))
      }.flatten
    })
    val adcDistUdf = udf((tbl: Seq[Double], code: Seq[Int]) => {
      var d = 0.0; var mi = 0
      while (mi < m) { d += tbl(mi * kCodes + code(mi)); mi += 1 }
      d
    })
    val qs = queryRows(queries, adcTableUdf(col("embedding")).as("tbl"))
    val codes = pq.codes.select(col("vec_id"), col("code"))
    val adcCol = Seq(adcDistUdf(col("tbl"), col("code")).as("adc"))
    val adc = ivf match {
      case None =>
        scoredJoin(codes, qs.select(col("query_id"), col("tbl")), onCell = false, adcCol)
      case Some((ix, nprobe)) =>
        // coded + cell-assigned corpus: at ingest this would be ONE table
        // (cell-partitioned parquet carrying the code column); here the
        // two independently-built artifacts join on vec_id. The queries
        // explode to one row per probed cell for this join only.
        scoredJoin(ix.assigned.select(col("vec_id"), col("cell")).join(codes, Seq("vec_id")),
          qs.select(col("query_id"), col("tbl"),
            explode(probeCells(ix, nprobe)(col("qemb"))).as("cell")),
          onCell = true, adcCol)
    }
    val ws = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    val short = adc.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
    val scored = short
      .join(pq.codes.select(col("vec_id").as("neighbor_id"),
        col("embedding"), norm(col("embedding")).as("nrm")), Seq("neighbor_id"))
      .join(broadcast(qs.select(col("query_id"), col("qemb"), col("qnrm"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), exactCosine)
    topKOf(scored, k)
  }

  /** Probe a prebuilt IVF index (same semantics as `ivfTopK`, minus the
    * per-call training).
    */
  /** `allowed`: optional FILTERED-ANN restriction — a (vec_id) set (or
    * any DataFrame with a vec_id column) the neighbors must belong to;
    * the classic "top-k among documents matching a metadata predicate"
    * serving shape. Applied as a PRE-filter on the corpus side, BEFORE
    * scoring: it composes with the probed-cell pruning, so a selective
    * predicate shrinks the rerank set instead of discarding ranked
    * results post-hoc (post-filtering top-k under-fills the page and
    * re-probes; pre-filtering is the scale-correct form when the
    * predicate is index-pushable).
    */
  def ivfTopKWith(ivf: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
      allowed: Option[DataFrame] = None, excludeSelf: Boolean = true): DataFrame =
    topKOf(ivfScored(ivf, queries, nprobe, allowed, excludeSelf = excludeSelf), k)

  /** Radius search over a prebuilt IVF index: `rangeSearch`'s threshold
    * semantics restricted to the probed cells — the scale path for
    * all-neighbors queries (similarity-graph edges, near-dup
    * thresholding) when the corpus outgrows a streamed broadcast join.
    * Same recall dial as `ivfTopKWith` (nprobe = cells degenerates to
    * the exact result — pinned in PipelineSpec); the threshold filter
    * replaces the per-query window, so nothing is sorted and no task
    * holds more than its probed-cell slice.
    */
  def rangeSearchWith(ivf: IvfIndex, queries: DataFrame, tau: Double,
      nprobe: Int = 4, allowed: Option[DataFrame] = None): DataFrame =
    rangeOf(ivfScored(ivf, queries, nprobe, allowed), tau)

  /** The cell probe: a vector's `nprobe` nearest centroids by squared L2
    * (a stable sort, so ties go to the lower cell).
    */
  private def probeCells(ivf: IvfIndex, nprobe: Int): UserDefinedFunction = {
    val bc = ivf.assigned.sparkSession.sparkContext.broadcast(ivf.cents)
    udf((v: Seq[Float]) => {
      val a = v.toArray
      bc.value.indices.map(c => (c, sqDist(a, bc.value(c))))
        .sortBy(_._2).take(nprobe).map(_._1)
    })
  }

  /** The probe-join-score stage behind `ivfTopKWith` (top-k on top),
    * `rangeSearchWith` (threshold filter on top) and `mmrTopKWith` (pool
    * window + greedy on top): per-query nprobe nearest cells, corpus
    * joined on cell, `cols` per candidate — MMR alone adds the
    * candidate's embedding (its greedy needs pair cosines); the
    * rank/threshold consumers keep the narrow schema.
    */
  private def ivfScored(ivf: IvfIndex, queries: DataFrame, nprobe: Int,
      allowed: Option[DataFrame], cols: Seq[Column] = Seq(exactCosine),
      excludeSelf: Boolean = true): DataFrame = {
    val qs = queryRows(queries, explode(probeCells(ivf, nprobe)(col("embedding"))).as("cell"))
    // Static cell pruning (parquet-backed indexes only): collect the
    // batch's probed cell set (queries are small by contract — one tiny
    // query-side job) and push it into the corpus scan as an IN filter,
    // which the cell-partitioned layout turns into a PartitionFilter —
    // the probe reads only its cells' directories. In-memory indexes
    // skip it: the join on `cell` already bounds the work there, and
    // the extra job would be pure serving-path overhead.
    val corpus =
      if (!ivf.pruneScan) ivf.assigned
      else {
        val probedCells = qs.select("cell").distinct().as[Int](
          org.apache.spark.sql.Encoders.scalaInt).collect()
        ivf.assigned.filter(col("cell").isin(probedCells.map(Int.box): _*))
      }
    val filtered = allowed.fold(corpus)(a =>
      corpus.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    scoredJoin(filtered, qs, onCell = true, cols, excludeSelf)
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation metric the nprobe/L/band dials are tuned against.
    * Inputs are two top-k result sets with (query_id, neighbor_id)
    * columns (`ivfTopKWith`/`pqTopK`-shaped vs `topK`);
    * output is per-query hits and integer recall permille (hits·1000
    * div k — no float ratio). Both inputs are |Q|·k rows — metric-sized,
    * never corpus-sized — so the joins here are trivial at any corpus
    * scale; the cost lives in producing the inputs. Queries the approx
    * side missed entirely still appear (left join from the exact side's
    * query set, zero hits). Deterministic because both producers
    * tie-break rank k by (cosine desc, neighbor_id).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0L) * 1000 div $k").as("recall_permille"))
  }
}
