package graft.pipeline

import graft.{NamedQuery, Tables}

import org.apache.spark.sql.functions._

/** Driver-verifiable entries for the LLM-data-pipeline operators.
  * Every op carries a DuckDB oracle that re-derives the result from raw
  * data — including the hash-based ones, whose hashes (fnv1a, splitmix64,
  * fmix64, Rademacher planes) are deliberately portable integer math the
  * oracle reproduces in mod-2⁶⁴ HUGEINT arithmetic. Even `sim_ivf_topk`
  * is hash-checked: k-means TRAINING isn't SQL-expressible, but serving
  * is — the run persists its trained centroids and the oracle re-derives
  * assignment, probes, and the exact rerank from them.
  */
object PipelineQueries {

  private val toks = "list_filter(string_split(text, ' '), x -> x <> '')"

  // one trained IVF index per (session, data dir)
  private val ivfCache = new graft.SessionMemo[Similarity.IvfIndex]

  /** Where the trained IVF centroids are persisted for the oracle: the
    * k-means TRAINING isn't SQL-expressible (and Spark's `avg` partial
    * aggregation makes it fp-nondeterministic across runs anyway), but
    * SERVING is — given the centroid values, nearest-cell assignment,
    * the probe set, and the exact rerank are pure SQL. So each run
    * writes its own trained centroids (16 rows × 64 dims — trivial)
    * where the `sim_ivf_topk` oracle re-reads them: an absolute path
    * (oracle SQL is static) under `Tables.BuildDir`, so two checkouts'
    * runs never share an artifact.
    */
  private val IvfOracleCentroids = s"${Tables.BuildDir}/ivf-oracle/centroids"

  private def cachedIvf(
      s: org.apache.spark.sql.SparkSession, dir: String): Similarity.IvfIndex =
    ivfCache(s, dir) {
      val ivf = Similarity.buildIvf(Tables.load(s, dir, "embeddings"))
      import s.implicits._
      ivf.cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(IvfOracleCentroids)
      ivf
    }

  /** Where the LIVE ANN store's first-batch-trained centroids are
    * persisted for the `sim_live_asof` oracle — the IvfOracleCentroids
    * contract applied to the streaming store (training stays un-oracled;
    * serving at a version is pure SQL given the centroid values).
    */
  private val LiveAnnOracleCentroids = s"${Tables.BuildDir}/live-ann-oracle/centroids"

  private val liveAnnCache = new graft.SessionMemo[String]

  /** ONE live ANN store per (session, data dir) for `sim_live_asof`:
    * three pmod-3 key-split embedding batches (v0, v1, v3) around a
    * DELETE batch at v2 (tombstoning the pmod-30≡1 ids — all inside the
    * v0/v1 prefix, so a tombstone reaching back into the version-1
    * snapshot would corrupt its answer). The maintainer trains its
    * frozen codebook on the FIRST batch; the run copies it to the fixed
    * oracle path the static SQL reads.
    */
  private def liveAnnStore(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    liveAnnCache(s, dir) {
      val emb = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val tmp = java.nio.file.Files.createTempDirectory("graft-live-ann").toString
      val writer = new graft.streaming.LiveAnnMaintainer(s, tmp, cells = 16)
      writer.processBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 0), 0L)
      writer.processBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 1), 1L)
      writer.processDeletes(
        emb.filter(pmod(col("vec_id"), lit(30)) === 1).select("vec_id"), 2L)
      writer.processBatch(emb.filter(pmod(col("vec_id"), lit(3)) === 2), 3L)
      s.read.parquet(s"$tmp/centroids")
        .coalesce(1).write.mode("overwrite").parquet(LiveAnnOracleCentroids)
      tmp
    }

  /** PQ analogue of the IVF oracle contract: each run persists its
    * trained codebooks (8 subspaces × 16 codewords × 8 dims) where the
    * static `sim_pq_topk` oracle SQL re-reads them; encoding and the
    * whole ADC serving path are re-derived in SQL from the books. The
    * oracle hardcodes the (m=8, k=16, subDim=8) geometry — it is part
    * of the query's definition, like the LSH bit counts.
    */
  private val PqOracleBooks = s"${Tables.BuildDir}/pq-oracle/codebooks"

  private val pqCache = new graft.SessionMemo[Similarity.PqIndex]

  private def cachedPq(
      s: org.apache.spark.sql.SparkSession, dir: String): Similarity.PqIndex =
    pqCache(s, dir) {
      val pq0 = Similarity.buildPq(Tables.load(s, dir, "embeddings"))
      import s.implicits._
      pq0.books.zipWithIndex.flatMap { case (book, mi) =>
        book.zipWithIndex.map { case (cw, ci) => (mi, ci, cw.toSeq) }
      }.toSeq.toDF("m", "code", "cw")
        .coalesce(1).write.mode("overwrite").parquet(PqOracleBooks)
      val pq = pq0.copy(codes = pq0.codes.cache())
      pq.codes.count() // materialize once; serving reads the cache
      pq
    }

  /** Engine-identical cosine in DuckDB: `list_dot_product` over DOUBLE[]
    * folds left-to-right in double precision — the same IEEE ops in the
    * same order as the engine's `graft_dot` (sequential `s += a(i)*b(i)`
    * with float→double promotion, which is exact) — and the norms are
    * the same `sqrt(dot(x, x))` composition. `list_cosine_similarity`
    * is NOT used: it computes on the lists' native FLOAT type and with
    * its own normalization, so a pair within one ulp of a `tau` cutoff
    * or a 4-dp rounding boundary could flake the hash match.
    */
  /** Recursive-CTE prefix re-deriving the jaccard(τ=0.1, n=3) near-dup
    * components (transitive closure over the exact pair list) — the
    * shared oracle front half of dd_cluster and dd_keep_best. Ends with
    * `comp(doc_id, component)`; members only — isolated docs are absent
    * and coalesce to their own id downstream.
    */
  private def clusterCte: String =
    s"""WITH RECURSIVE
       | t AS (SELECT doc_id, $toks AS tk FROM documents),
       | sh AS (SELECT DISTINCT doc_id, s FROM (
       |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
       |     CASE WHEN i + 2 <= len(tk)
       |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
       |   WHERE s IS NOT NULL),
       | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       | p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
       | pr AS (SELECT a, b FROM (
       |   SELECT a, b, i*1.0/(sa.n + sb.n - i) AS j
       |   FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id) q
       |   WHERE j >= 0.1),
       | e AS (SELECT a AS u, b AS v FROM pr UNION SELECT b AS u, a AS v FROM pr),
       | reach(u, v) AS (
       |   SELECT u, v FROM e
       |   UNION
       |   SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
       | comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)""".stripMargin

  /** The jaccard(τ=0.1, n=3, dfCap=200) near-dup component map — the
    * expensive front half dd_cluster AND dd_keep_best both sit on (one
    * corpus-wide shingle pass + the CC rounds). Built once per (session,
    * dir) under the same cache discipline as the trained ANN artifacts;
    * the map itself is ≤ #near-dup docs (500 at sf0.01), so caching it
    * is bounded by construction. This is the engine-side mirror of the
    * oracle's shared `clusterCte` prefix.
    */
  private val compCache = new graft.SessionMemo[org.apache.spark.sql.DataFrame]

  /** The exact jaccard(τ=0.1, n=3, dfCap=200) pair list itself, one
    * level below `cachedComponents` — dd_ngram_jaccard serves from it
    * and the component map builds on it, so the corpus-wide shingle
    * pass + df² join run ONCE per (session, dir) instead of once per
    * consumer. The pair list is ≤ the near-dup density of the corpus
    * (what dedup exists to make rare) — bounded cache by construction.
    *
    * Why serve from an artifact instead of LSH-prefiltering the cold
    * join (the other candidate fix): at τ=0.1 minhash banding has NO
    * recall-certain geometry — with r rows/band, P(candidate | j=0.1)
    * = 1-(1-0.1^r)^b, which at the operator's 32×2 default is ~27%,
    * and even 64 bands × 1 row caps at 1-(0.9)^64 ≈ 99.9% — close but
    * not 1, and the oracle compare is cell-exact. A prefilter that can
    * drop a true pair is a different operator; the exact cold join
    * stays, and repeat serving (what the bench's warm passes measure)
    * reads the artifact.
    */
  private val pairsCache = new graft.SessionMemo[org.apache.spark.sql.DataFrame]

  private def cachedJaccardPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    pairsCache(s, dir) {
      val pairs = Dedup
        .jaccardPairs(Tables.load(s, dir, "documents"), n = 3, tau = 0.1, dfCap = 200)
        .cache()
      pairs.count() // materialize: both consumers read the cached list
      pairs
    }

  private def cachedComponents(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    compCache(s, dir) {
      val comp = Dedup
        .connectedComponents(cachedJaccardPairs(s, dir).select("a", "b"))
        .cache()
      comp.count() // materialize: both consumers read the cached map
      comp
    }

  /** The DSIR oracle, shared VERBATIM by cu_dsir (one-pass model) and
    * cu_live_dsir (live-maintained model) — the q36/q38 posture applied
    * to model state: the oracle defines the answer once, both
    * construction paths must produce it bit-exactly.
    */
  private def dsirOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt, unnest($toks) AS token
       |  FROM documents),
       |cnt AS (SELECT token, count(*) AS cr, count(*) FILTER (tgt) AS ct
       |  FROM tok GROUP BY 1),
       |tt AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM cnt),
       |model AS (SELECT token,
       |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt.tt + tt.v AS DOUBLE)) * 1000000) AS BIGINT)
       |  - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / CAST(tt.tr + tt.v AS DOUBLE)) * 1000000) AS BIGINT)
       |    AS lr
       |  FROM cnt CROSS JOIN tt),
       |occ AS (SELECT doc_id, token, count(*) AS occ FROM tok GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tokens,
       |    CAST(sum(occ * lr) AS BIGINT) AS dsir_score
       |  FROM occ JOIN model USING (token) GROUP BY 1)
       |SELECT sc.doc_id, d.lang, sc.n_tokens, sc.dsir_score
       |FROM sc JOIN documents d USING (doc_id)
       |ORDER BY dsir_score DESC, sc.doc_id LIMIT 200""".stripMargin

  /** cu_dsir_oov's oracle: the same quantized model over the HALF
    * corpus, then scoring of ALL documents through a LEFT join with
    * `coalesce(lr, floor)` — the floor re-derived from the same totals
    * (`flo`), so the OOV contract is pinned end-to-end in SQL.
    */
  private def dsirOovOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt, unnest($toks) AS token
       |  FROM documents WHERE doc_id % 2 = 0),
       |cnt AS (SELECT token, count(*) AS cr, count(*) FILTER (tgt) AS ct
       |  FROM tok GROUP BY 1),
       |tt AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM cnt),
       |model AS (SELECT token,
       |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt.tt + tt.v AS DOUBLE)) * 1000000) AS BIGINT)
       |  - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / CAST(tt.tr + tt.v AS DOUBLE)) * 1000000) AS BIGINT)
       |    AS lr
       |  FROM cnt CROSS JOIN tt),
       |flo AS (SELECT
       |    CAST(round(ln(1.0 / CAST(tt + v AS DOUBLE)) * 1000000) AS BIGINT)
       |  - CAST(round(ln(1.0 / CAST(tr + v AS DOUBLE)) * 1000000) AS BIGINT) AS f
       |  FROM tt),
       |alltok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |occ AS (SELECT doc_id, token, count(*) AS occ FROM alltok GROUP BY 1, 2),
       |sc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tokens,
       |    CAST(sum(occ * coalesce(lr, (SELECT f FROM flo))) AS BIGINT) AS dsir_score
       |  FROM occ LEFT JOIN model USING (token) GROUP BY 1)
       |SELECT sc.doc_id, d.lang, sc.n_tokens, sc.dsir_score
       |FROM sc JOIN documents d USING (doc_id)
       |ORDER BY dsir_score DESC, sc.doc_id LIMIT 200""".stripMargin

  /** The shared DSIR serving tail: top-200 by (score, doc_id), then the
    * lang witness joined AFTER the top-k — 200 rows broadcast against
    * the doc_id-keyed projection, never a corpus-sized join.
    */
  private def dsirTop(docs: org.apache.spark.sql.DataFrame,
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val top = scored.orderBy(col("dsir_score").desc, col("doc_id")).limit(200)
    broadcast(top).join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
  }

  private val liveDsirCache = new graft.SessionMemo[org.apache.spark.sql.DataFrame]

  private def cosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
    s"(${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)})))"
  }

  /** Exact brute-force top-5 of every 100th vector — the oracle of
    * `sim_topk`, and of `sim_ivf_full_probe`, whose full probe must equal it.
    */
  private def bruteTopKSql: String =
    s"""SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(${cosSql("q.embedding", "c.embedding")}, 4) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS INTEGER) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % 100 = 0) t
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The λ = 0.5, k = 4 MMR greedy over a `pool` CTE (query_id, nid,
    * rel) — the oracle side of `Similarity.mmrGreedy`, shared by
    * `sim_mmr` and `sim_mmr_ivf`, which differ only in their pool. Its
    * lines keep their `|` margins: the caller's `stripMargin` strips them.
    */
  private def mmrGreedySql: String =
    s"""pp AS (
       |  SELECT a.query_id, a.nid AS x, b.nid AS y,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS sim
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.nid <> b.nid
       |  JOIN embeddings ea ON ea.vec_id = a.nid
       |  JOIN embeddings eb ON eb.vec_id = b.nid),
       |sel AS (
       |  SELECT query_id, 1 AS rank, nid, rel, rel AS score, [nid] AS picked
       |  FROM (SELECT query_id, nid, rel,
       |          row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
       |        FROM pool) t WHERE rn = 1
       |  UNION ALL
       |  SELECT s.query_id, s.rank + 1, c.nid, c.rel, c.score,
       |         list_append(s.picked, c.nid)
       |  FROM sel s, LATERAL (
       |    SELECT p.nid, p.rel,
       |      0.5 * p.rel - 0.5 * (SELECT max(pp.sim) FROM pp
       |        WHERE pp.query_id = s.query_id AND pp.x = p.nid
       |          AND list_contains(s.picked, pp.y)) AS score
       |    FROM pool p
       |    WHERE p.query_id = s.query_id AND NOT list_contains(s.picked, p.nid)
       |    ORDER BY score DESC, p.nid LIMIT 1) c
       |  WHERE s.rank < 4)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id,
       |  ROUND(rel, 4) AS cosine, ROUND(score, 4) AS mmr
       |FROM sel ORDER BY query_id, rank"""

  /** DuckDB re-derivation of `Similarity.lshPairs` / `lshPairsMulti`:
    * plane weights from the same fnv1a+fmix64 integer hash (mod-2⁶⁴
    * arithmetic via HUGEINT, exactly the dd_simhash technique), bucket =
    * big-endian sign-bit fold, candidates = same-(table, bucket) pairs,
    * exact cosine rerank. `list_dot_product` and Spark's
    * `aggregate(zip_with(...))` both fold left-to-right in double
    * precision, so the sign bits agree bit-exactly.
    */
  /** The p0→p1→pw→pl CTE chain re-deriving `Similarity.planeWeight` for
    * planes `lo..hi` over dims 0..63 — `pl` is (pidx, 64-element ±1.0
    * list). Shared by the LSH oracles (planes 0..tables·bits−1) and the
    * random-projection oracle (the RpPlaneOffset block).
    */
  private def planesCteSql(lo: Int, hi: Int): String =
    s"""p0 AS (SELECT pidx, d,
       |  CAST((CAST(xor(
       |    CAST((CAST(xor(CAST(14695981039346656037 AS UBIGINT), CAST(pidx AS UBIGINT)) AS HUGEINT)
       |          * 1099511628211) % 18446744073709551616 AS UBIGINT),
       |    CAST(d AS UBIGINT)) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT) AS h
       |  FROM generate_series($lo, $hi) g1(pidx), generate_series(0, 63) g2(d)),
       | p1 AS (SELECT pidx, d,
       |  ${mulModSql("xor(h, h >> 33)", 0xff51afd7ed558ccdL)} AS h
       |  FROM p0),
       | pw AS (SELECT pidx, d,
       |  CASE WHEN xor(h, h >> 33) >= CAST(9223372036854775808 AS UBIGINT)
       |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS w
       |  FROM p1),
       | pl AS (SELECT pidx, list(w ORDER BY d) AS wv FROM pw GROUP BY pidx)""".stripMargin

  private def lshOracleSql(tables: Int, bits: Int, tau: Double): String = {
    val nPlanes = tables * bits
    s"""WITH ${planesCteSql(0, nPlanes - 1)},
       | sig AS (SELECT e.vec_id, p.pidx // $bits AS t, p.pidx % $bits AS bp,
       |    CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.wv) >= 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e CROSS JOIN pl p),
       | bk AS (SELECT vec_id, t, sum(bit * (1 << (${bits - 1} - bp))) AS bucket
       |        FROM sig GROUP BY vec_id, t),
       | cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |          FROM bk x JOIN bk y
       |            ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT c.a, c.b,
       |  ROUND(${cosSql("ea.embedding", "eb.embedding")}, 4) AS cosine
       |FROM cand c
       |JOIN embeddings ea ON ea.vec_id = c.a
       |JOIN embeddings eb ON eb.vec_id = c.b
       |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= $tau
       |ORDER BY a, b""".stripMargin
  }

  /** (h · c) mod 2⁶⁴ in DuckDB with c split into 32-bit halves — a full
    * 64×64 product overflows INT128, so: h·c ≡ h·lo + ((h·hi mod 2³²) « 32).
    */
  private def mulModSql(col: String, c: Long): String = {
    val hi = c >>> 32
    val lo = c & 0xFFFFFFFFL
    s"CAST(((CAST($col AS HUGEINT) * $lo) + ((CAST($col AS HUGEINT) * $hi) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)"
  }

  /** CTE chain re-deriving the FULL salted splitmix64 of doc_id as
    * UBIGINT `h` (what `Curation.shuffleOrder` sorts on; `bucketCtes`
    * below takes the same value mod 1000). Constants are generated
    * from the same Scala values the engine uses, so they cannot drift.
    */
  private def hashCtes(salt: Long, extraCols: String = ""): String = {
    val s = java.lang.Long.toUnsignedString(salt)
    s"""h0 AS (SELECT doc_id$extraCols, xor(CAST(doc_id AS UBIGINT), CAST($s AS UBIGINT)) AS h
       |       FROM documents),
       | h1 AS (SELECT doc_id$extraCols, ${mulModSql("xor(h, h >> 30)", 0xbf58476d1ce4e5b9L)} AS h FROM h0),
       | h2 AS (SELECT doc_id$extraCols, ${mulModSql("xor(h, h >> 27)", 0x94d049bb133111ebL)} AS h FROM h1),
       | hf AS (SELECT doc_id$extraCols, xor(h, h >> 31) AS h FROM h2)""".stripMargin
  }

  /** CTE chain re-deriving `Curation.bucketUdf` (salted splitmix64 mod
    * 1000 of doc_id) — constants are generated from the same Scala
    * values the engine uses, so they cannot drift.
    */
  private def bucketCtes(salt: Long, where: String = "TRUE"): String = {
    val s = java.lang.Long.toUnsignedString(salt)
    s"""b0 AS (SELECT doc_id, lang, xor(CAST(doc_id AS UBIGINT), CAST($s AS UBIGINT)) AS h
       |       FROM documents WHERE $where),
       | b1 AS (SELECT doc_id, lang, ${mulModSql("xor(h, h >> 30)", 0xbf58476d1ce4e5b9L)} AS h FROM b0),
       | b2 AS (SELECT doc_id, lang, ${mulModSql("xor(h, h >> 27)", 0x94d049bb133111ebL)} AS h FROM b1),
       | bk AS (SELECT doc_id, lang, CAST(xor(h, h >> 31) % 1000 AS INT) AS bucket FROM b2)""".stripMargin
  }

  val all: Seq[NamedQuery] = Seq(

    // ---- deduplication ---------------------------------------------------
    NamedQuery(
      "dd_exact",
      """SELECT min(doc_id) AS keeper_id, count(*) AS group_size
        |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.load(s, dir, "documents"))
        .select("keeper_id", "group_size").orderBy("keeper_id")
    },

    NamedQuery(
      "dd_ngram_jaccard",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         | p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT a, b, floor(j * 10000) / 10000 AS jaccard FROM (
         |  SELECT a, b, i*1.0/(sa.n + sb.n - i) AS j
         |  FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id) q
         |WHERE j >= 0.1 ORDER BY a, b""".stripMargin) { (s, dir) =>
      // dfCap engaged on the oracled query: the capped join must still be
      // cell-exact (hot-intersection correction) — see Dedup.jaccardPairs.
      // Served from the shared session artifact (same discipline as
      // dd_cluster/dd_keep_best's component map, which builds on this
      // very list): the corpus shingle pass + exact df² join run once
      // per (session, dir), repeat calls scan the bounded cached pairs.
      cachedJaccardPairs(s, dir).orderBy("a", "b")
    },

    // Pairwise near-dups → connected components → keep-first verdicts:
    // the clustering step a real dedup pipeline runs after ANY pairwise
    // stage. Oracled end-to-end: DuckDB re-derives the pairs and computes
    // components via a recursive transitive-closure CTE (fine at oracle
    // scale; the Spark side is the O(log²)-round star algorithm).
    NamedQuery(
      "dd_cluster",
      s"""$clusterCte
         |SELECT d.doc_id,
         |  coalesce(c.component, d.doc_id) AS component,
         |  CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
         |       THEN 'keep' ELSE 'drop' END AS verdict
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.dedupClustersFromComponents(docs, cachedComponents(s, dir))
        .orderBy("doc_id")
    },

    // Canonical selection: same clusters as dd_cluster, but the keeper
    // per component is the LONGEST member (ties -> lowest id) — the
    // keep-best rule curation pipelines apply instead of keep-first.
    // Engine side is a partial-aggregable struct-argmax, not a window.
    NamedQuery(
      "dd_keep_best",
      s"""$clusterCte,
         | f AS (SELECT d.doc_id, d.n_chars,
         |         coalesce(c.component, d.doc_id) AS component
         |       FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         | k AS (SELECT component, doc_id AS keeper_id FROM (
         |   SELECT component, doc_id,
         |     row_number() OVER (PARTITION BY component
         |                        ORDER BY n_chars DESC, doc_id) AS rn
         |   FROM f) t WHERE rn = 1)
         |SELECT f.doc_id, f.component, k.keeper_id,
         |  CASE WHEN f.doc_id = k.keeper_id THEN 'keep' ELSE 'drop' END AS verdict
         |FROM f JOIN k ON f.component = k.component
         |ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.dedupClustersKeepBestFromComponents(docs, cachedComponents(s, dir), "n_chars")
        .orderBy("doc_id")
    },

    // MinHash+LSH with a RECALL oracle: at tau = 0.6 the 32-band × 2-row
    // geometry misses a qualifying pair with prob (1-j²)^32 ≤ 6e-7, so
    // the LSH candidate set provably contains every exact-Jaccard ≥ 0.6
    // pair and the verified output equals the brute-force answer — which
    // DuckDB can compute. (The tau=0.3 operating point stays exercised in
    // PipelineSpec; its per-pair miss prob ~5% makes it un-oracle-able.)
    NamedQuery(
      "dd_minhash_lsh",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         | p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |       FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT a, b FROM (
         |  SELECT a, b, i*1.0/(sa.n + sb.n - i) AS j
         |  FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id) q
         |WHERE j >= 0.6 ORDER BY a, b""".stripMargin) { (s, dir) =>
      Dedup.minhashPairs(Tables.load(s, dir, "documents"), tau = 0.6)
        .select("a", "b").orderBy("a", "b")
    },

    // Incremental LSH dedup: pairs touching the FRESH shard (doc_id %
    // 7 = 0) only — corpus×fresh in (corpus, fresh) orientation plus
    // fresh×fresh (a < b); corpus×corpus pairs are never formed. Same
    // τ=0.6 recall-certainty argument as dd_minhash_lsh.
    NamedQuery(
      "dd_incr",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         | cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |       FROM sh x JOIN sh y ON x.s = y.s
         |       WHERE y.doc_id % 7 = 0 AND x.doc_id <> y.doc_id
         |         AND (x.doc_id % 7 <> 0 OR x.doc_id < y.doc_id)
         |       GROUP BY 1, 2)
         |SELECT a, b FROM (
         |  SELECT a, b, i*1.0/(sa.n + sb.n - i) AS j
         |  FROM cand JOIN sz sa ON cand.a = sa.doc_id JOIN sz sb ON cand.b = sb.doc_id) q
         |WHERE j >= 0.6 ORDER BY a, b""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashPairsIncremental(
          docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0),
          tau = 0.6)
        .select("a", "b").orderBy("a", "b")
    },

    // SimHash fully oracled: fnv1a + bit-vote simhash re-derived in pure
    // SQL (HUGEINT mod-2⁶⁴ arithmetic), pairs = all (a<b) with Hamming
    // distance ≤ 7. The chunk-banding pigeonhole guarantee (maxDist <
    // chunks) makes the Spark candidate set provably complete, so its
    // verified output is deterministic given the simhash values.
    NamedQuery(
      "dd_simhash",
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         | h AS (SELECT doc_id, CAST(list_reduce(
         |   list_prepend(CAST(14695981040887122608 AS HUGEINT),
         |     list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
         |   (h, c) -> (xor(CAST(h AS UBIGINT), CAST(c AS UBIGINT)) * CAST(1099511628211 AS HUGEINT))
         |             % 18446744073709551616) AS UBIGINT) AS h FROM t),
         | bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         |          FROM h, generate_series(0, 63) g(b) GROUP BY doc_id, b),
         | sh AS (SELECT doc_id,
         |          CAST(sum(CASE WHEN acc > 0 THEN CAST(1 AS UBIGINT) << b ELSE 0 END) AS UBIGINT) AS simhash
         |        FROM bits GROUP BY doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS dist
         |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 7
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), maxDist = 7)
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy("a", "b")
    },

    // Cross-document repeated-span share (exact-substring-dedup signal):
    // per-position 5-gram windows, duplicated iff the window occurs in
    // >= 2 DISTINCT docs. The oracle re-derives windows as STRINGS via
    // an index lambda (1-based `i`, tail windows CASE'd to NULL and
    // filtered); the engine joins on fnv1a window hashes — equal up to
    // collisions.
    NamedQuery(
      "dd_dup_spans",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | w AS (SELECT doc_id, g FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 4 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] END)) AS g
         |   FROM t) WHERE g IS NOT NULL),
         | df AS (SELECT g, count(DISTINCT doc_id) AS nd FROM w GROUP BY g),
         | per AS (SELECT w.doc_id, count(*) AS n_windows,
         |     count(*) FILTER (df.nd >= 2) AS dup_windows
         |   FROM w JOIN df USING (g) GROUP BY w.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(coalesce(dup_windows * 1000 // n_windows, 0) AS BIGINT) AS dup_window_permille,
         |  CASE WHEN coalesce(dup_windows * 1000 // n_windows, 0) >= 200
         |       THEN 'trim' ELSE 'keep' END AS verdict
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Dedup.crossDocSpans(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Exact-substring dedup REMEDIATION — dd_dup_spans detects copied
    // spans; this REWRITES: non-overlapping 4-token blocks, every
    // occurrence but the corpus-wide first (min (doc_id, pos)) removed,
    // docs reassembled from kept blocks in position order. The oracle
    // states the rule independently via a row_number window; the
    // engine's struct-min keeper must agree cell-exactly on every
    // reassembled string.
    NamedQuery(
      "dd_scrub",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | b AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(tk)/4.0) AS INT))) AS pos, tk
         |       FROM t),
         | bl AS (SELECT doc_id, pos,
         |     array_to_string(tk[(pos*4+1):(pos*4+4)], ' ') AS block FROM b),
         | f AS (SELECT doc_id, pos, block,
         |     row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) AS rn FROM bl)
         |SELECT d.doc_id,
         |  coalesce(string_agg(CASE WHEN f.rn = 1 THEN f.block END, ' ' ORDER BY f.pos), '')
         |    AS text_clean
         |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      Dedup.scrubDupSpans(Tables.load(s, dir, "documents"), k = 4).orderBy("doc_id")
    },

    // embedding-cosine near-dup: keep-first verdicts off the blocked
    // exact all-pairs (scale path swaps in lshPairs as candidate source)
    NamedQuery(
      "dd_embedding_neardup",
      s"""SELECT e.vec_id,
         |  CASE WHEN EXISTS (SELECT 1 FROM embeddings x
         |        WHERE x.vec_id < e.vec_id
         |          AND ${cosSql("x.embedding", "e.embedding")} >= 0.4)
         |       THEN 'drop' ELSE 'keep' END AS verdict
         |FROM embeddings e ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Dedup.embeddingDedupVerdicts(Tables.load(s, dir, "embeddings"), tau = 0.4)
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup with pairwise cosine
    // restricted to WITHIN k-means clusters — the tractable-at-scale
    // form of dd_embedding_neardup (which compares globally). Reuses the
    // run's persisted IVF centroids; the oracle re-derives the cell
    // assignment from them (same CTE as sim_ivf_topk), then applies the
    // same keep-lowest-id rule within each cell with the engine-identical
    // cosine fold. Cross-cell near-dups are NOT dropped by construction —
    // the documented approximation the method trades for Σ(cell²) cost.
    NamedQuery(
      "dd_semdedup",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist) t
         |  WHERE rn = 1)
         |SELECT a.vec_id, a.cell,
         |  CASE WHEN EXISTS (SELECT 1
         |        FROM assign b JOIN embeddings xb ON xb.vec_id = b.vec_id
         |        WHERE b.cell = a.cell AND b.vec_id < a.vec_id
         |          AND ${cosSql("xb.embedding", "xa.embedding")} >= 0.4)
         |       THEN 'drop' ELSE 'keep' END AS verdict
         |FROM assign a JOIN embeddings xa ON xa.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      Similarity.semDedup(cachedIvf(s, dir), tau = 0.4).orderBy("vec_id")
    },

    // ---- similarity search ----------------------------------------------
    NamedQuery(
      "sim_pairs_brute",
      s"""SELECT a.vec_id AS a, b.vec_id AS b,
         |  ROUND(${cosSql("a.embedding", "b.embedding")}, 4) AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY a, b""".stripMargin) { (s, dir) =>
      Similarity.bruteForcePairs(Tables.load(s, dir, "embeddings"), tau = 0.4)
        .orderBy("a", "b")
    },

    NamedQuery(
      "sim_topk",
      bruteTopKSql) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.topK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5)
        .orderBy("query_id", "rank")
    },

    // Radius search: all neighbors with cosine >= tau per query — the
    // range-query companion to sim_topk (no window in the plan at all:
    // broadcast queries x streamed corpus + a codegen'd threshold
    // filter). The oracle thresholds the same unrounded cosine. Bench:
    // s_rg.
    NamedQuery(
      "sim_range",
      s"""SELECT query_id, neighbor_id, cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS raw,
         |    ROUND(${cosSql("q.embedding", "c.embedding")}, 4) AS cosine
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id % 100 = 0) t
         |WHERE raw >= 0.3 ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.rangeSearch(emb, emb.filter(col("vec_id") % 100 === 0), tau = 0.3)
        .orderBy("query_id", "neighbor_id")
    },

    // Rademacher random projection (JL compression, 64→16 dims) with
    // top-k ranked in the PROJECTED space and the true cosine reported
    // beside it as the quality witness. Fully oracled: the projection
    // planes are the SAME portable planeWeight hash as the LSH family
    // (a disjoint plane block at RpPlaneOffset), so DuckDB re-derives
    // the exact projected vectors (list_dot_product ≡ the engine's
    // sequential double fold), the exact projected-space ranking, and
    // both cosines — cell-exact. The scale story: project once at
    // ingest, scan the 4×-narrower rp column as the cheap first pass,
    // rerank survivors by true cosine. Bench: s_rp.
    NamedQuery(
      "sim_rp",
      s"""WITH ${planesCteSql(Similarity.RpPlaneOffset, Similarity.RpPlaneOffset + 15)},
         |rp AS (SELECT e.vec_id,
         |    list(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.wv)
         |         ORDER BY p.pidx) AS rp
         |  FROM embeddings e CROSS JOIN pl p GROUP BY e.vec_id)
         |SELECT query_id, rank, neighbor_id, rp_cosine, cosine FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.rp, c.rp) /
         |      (sqrt(list_dot_product(q.rp, q.rp)) * sqrt(list_dot_product(c.rp, c.rp))), 4)
         |      AS rp_cosine,
         |    ROUND(${cosSql("eq.embedding", "ec.embedding")}, 4) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.rp, c.rp) /
         |        (sqrt(list_dot_product(q.rp, q.rp)) * sqrt(list_dot_product(c.rp, c.rp))) DESC,
         |        c.vec_id) AS INTEGER) AS rank
         |  FROM rp q JOIN rp c ON q.vec_id <> c.vec_id
         |  JOIN embeddings eq ON eq.vec_id = q.vec_id
         |  JOIN embeddings ec ON ec.vec_id = c.vec_id
         |  WHERE q.vec_id % 100 = 0) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.rpTopK(emb, emb.filter(col("vec_id") % 100 === 0),
          k = 5, dim = 64)
        .orderBy("query_id", "rank")
    },

    // MMR diversified top-k (λ=0.5, pool=8, k=4): greedy
    // redundancy-removing rerank — each pick maximizes λ·relevance −
    // (1−λ)·max-sim-to-selected (rank 1 = plain relevance argmax, its
    // mmr DEFINED as the relevance). The oracle re-derives the exact
    // pool, the pool-pair similarity matrix, and EVERY greedy step as
    // a recursive CTE with a LATERAL per-step argmax — bit-exact
    // because both sides fold the same doubles and break ties on
    // neighbor id. Scale shape: bounded-pool two-stage serving — the
    // pool is a broadcast-queries × streamed-corpus WindowGroupLimit
    // top-8; the sequential greedy runs INSIDE the per-query
    // aggregation row over ≤pool candidates, never a driver loop.
    // Bench: s_mm.
    NamedQuery(
      "sim_mmr",
      s"""WITH RECURSIVE
         |pool AS (
         |  SELECT query_id, nid, rel FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS nid,
         |      ${cosSql("q.embedding", "c.embedding")} AS rel,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id % 100 = 0) t
         |  WHERE rn <= 8),
         |$mmrGreedySql""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") % 100 === 0),
          k = 4, pool = 8)
        .orderBy("query_id", "rank")
    },

    // MMR over the prebuilt IVF index at nprobe=4 < cells — the AT-SCALE
    // pool path (sim_mmr's brute broadcast×corpus pool stage is the one
    // quadratic trap in the family; here the pool comes from ivfScored's
    // probe-join-score, nprobe/cells of the corpus per query, with the
    // embedding carried through so the greedy never re-joins). Oracled
    // end-to-end from the run's own persisted centroids, the sim_ivf_topk
    // discipline: assignment, probes, and the top-8 pool are re-derived
    // in SQL, then the SAME recursive-CTE greedy as sim_mmr replays
    // every λ=0.5 pick bit-exactly. nprobe = cells degenerates to
    // mmrTopK row-for-row (pinned in PipelineSpec). Bench: smi.
    NamedQuery(
      "sim_mmr_ivf",
      s"""WITH RECURSIVE
         |cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         |embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM embd v CROSS JOIN cents k),
         |rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist),
         |assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, cell FROM rk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         |pool AS (
         |  SELECT query_id, nid, rel FROM (
         |    SELECT p.query_id, a.vec_id AS nid,
         |      ${cosSql("eq.embedding", "ec.embedding")} AS rel,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${cosSql("eq.embedding", "ec.embedding")} DESC, a.vec_id) AS rn
         |    FROM probe p
         |    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |    JOIN embeddings eq ON eq.vec_id = p.query_id
         |    JOIN embeddings ec ON ec.vec_id = a.vec_id) t
         |  WHERE rn <= 8),
         |$mmrGreedySql""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val ivf = cachedIvf(s, dir)
      Similarity.mmrTopKWith(ivf, emb.filter(col("vec_id") % 100 === 0),
          k = 4, pool = 8, nprobe = 4)
        .orderBy("query_id", "rank")
    },

    // LIVE ANN time travel on the gate — q40/q41's discipline for the
    // ANN store (`LiveAnnMaintainer.indexAt`, the /ann?asOf= serving
    // path): the store ingests three pmod-3 key-split embedding batches
    // (v0, v1, v3) around a DELETE batch (v2, tombstoning pmod-30≡1
    // ids — all inside the v0/v1 prefix), and the query serves top-5 at
    // version 1. The snapshot must fold ONLY v0+v1 — so the oracle is
    // sim_ivf_topk's SQL re-derived over that prefix of embeddings
    // (sign-safe pmod form), from the run's own first-batch-trained
    // persisted centroids. A version leaking across the snapshot
    // boundary, a tombstone reaching BACK into history, or a wrong
    // read-set fold all hash-mismatch. Bench: sla.
    NamedQuery(
      "sim_live_asof",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$LiveAnnOracleCentroids/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist),
         | assign AS (SELECT vec_id, cell FROM rk
         |    WHERE rn = 1 AND ((vec_id % 3) + 3) % 3 < 2),
         | probe AS (SELECT vec_id AS query_id, cell FROM rk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         | scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM probe p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN embeddings eq ON eq.vec_id = p.query_id
         |  JOIN embeddings ec ON ec.vec_id = a.vec_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      // a FRESH maintainer (restart recovery) resolves version 1's read
      // set from disk and folds the masked index under the store's own
      // frozen centroids — the exact serving path behind /ann?asOf=
      val reader = new graft.streaming.LiveAnnMaintainer(
        s, liveAnnStore(s, dir), cells = 16)
      Similarity.ivfTopKWith(reader.indexAt(1L).get,
          emb.filter(col("vec_id") % 100 === 0), k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    },

    // k-NN majority-vote classification (the standard embedding-space
    // label-propagation op): queries = every 25th vector, corpus = the
    // rest; k=5 exact-cosine neighbors vote, most votes wins, vote ties
    // break to the smallest label. The oracle re-derives the neighbor
    // ranks (same unrounded-cosine ordering as sim_topk), the label
    // join, and the same (votes DESC, label) argmax. At scale the
    // neighbor source swaps to the IVF candidate path (knnClassify's
    // pluggable `neighbors`); the vote/argmax stages are unchanged.
    // Bench: s_kn.
    NamedQuery(
      "sim_knn",
      s"""WITH nn AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id)
         |      AS INTEGER) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id % 25 = 0 AND c.vec_id % 25 <> 0) t
         | WHERE rank <= 5),
         |votes AS (SELECT query_id, label, count(*) AS votes
         |  FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, CAST(label AS BIGINT) AS predicted_label,
         |  CAST(votes AS BIGINT) AS votes FROM (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, label) AS rk
         |  FROM votes) v WHERE rk = 1 ORDER BY query_id""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.knnClassify(
        emb.filter(col("vec_id") % 25 =!= 0),
        emb.filter(col("vec_id") % 25 === 0), k = 5)
        .orderBy("query_id")
    },

    // Hyperplane LSH fully oracled: the planes are portable ±1 Rademacher
    // vectors (Similarity.planeWeight = fnv1a + murmur fmix64, pure
    // integer math), so DuckDB re-derives the exact buckets, the exact
    // candidate set, and the exact rerank — cell-exact, not rows-only.
    NamedQuery("sim_lsh_pairs", lshOracleSql(tables = 1, bits = 8, tau = 0.4)) { (s, dir) =>
      Similarity.lshPairs(Tables.load(s, dir, "embeddings"), dim = 64, tau = 0.4)
        .orderBy("a", "b")
    },

    NamedQuery("sim_lsh_multi", lshOracleSql(tables = 8, bits = 8, tau = 0.4)) { (s, dir) =>
      // multi-table recall dial on the driver surface (union of 8 narrow
      // tables + one exact rerank); superset of sim_lsh_pairs candidates
      Similarity.lshPairsMulti(Tables.load(s, dir, "embeddings"), dim = 64, tau = 0.4)
        .orderBy("a", "b")
    },

    // IVF at nprobe < cells, oracled end-to-end from the run's own
    // persisted centroids (IvfOracleCentroids): training stays
    // un-oracled (not SQL-expressible), but given the centroid VALUES,
    // serving is — `dist` re-derives every vector's squared L2 to every
    // centroid with the engine's exact fold (sequential (e[i]-c[i])²
    // accumulation in double), `assign` its nearest cell (strict-< tie
    // break = first minimum = ORDER BY d, cell), `probe` each query's 4
    // nearest cells (stable sortBy = same tie break), and the rerank the
    // exact top-5 cosine among probed cells.
    NamedQuery(
      "sim_ivf_topk",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist),
         | assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cell FROM rk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         | scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM probe p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN embeddings eq ON eq.vec_id = p.query_id
         |  JOIN embeddings ec ON ec.vec_id = a.vec_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      // served from a PREBUILT index (train/assign once per dir, cached) —
      // the at-scale shape where cell assignment is written at ingest;
      // results are identical to the train-per-call ivfTopK (same
      // training artifact, which cachedIvf persists for the oracle)
      val emb = Tables.load(s, dir, "embeddings")
      val ivf = cachedIvf(s, dir)
      Similarity.ivfTopKWith(ivf, emb.filter(col("vec_id") % 100 === 0), k = 5)
        .orderBy("query_id", "rank")
    },

    // Filtered ANN — top-k among vectors matching a metadata predicate
    // (label IN (1,3)): the restriction is a PRE-filter composed with
    // the probed-cell pruning (never a post-filter of ranked results,
    // which under-fills k). Same centroid-derived oracle as
    // sim_ivf_topk with the label predicate on the neighbor side.
    NamedQuery(
      "sim_ivf_filtered",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist),
         | assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cell FROM rk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         | scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM probe p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN embeddings eq ON eq.vec_id = p.query_id
         |  JOIN embeddings ec ON ec.vec_id = a.vec_id AND ec.label IN (1, 3))
         |SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val ivf = cachedIvf(s, dir)
      Similarity.ivfTopKWith(ivf, emb.filter(col("vec_id") % 100 === 0), k = 5,
          allowed = Some(emb.filter(col("label").isin(1, 3))))
        .orderBy("query_id", "rank")
    },

    // IVF with nprobe = cells (probe everything): the result must EQUAL
    // brute-force top-k, which DuckDB computes WITHOUT the persisted
    // centroids — a centroid-independent pin on the IVF machinery (cell
    // assignment covers every vector, per-cell scoring, global rank
    // merge) that complements sim_ivf_topk's centroid-derived oracle.
    NamedQuery(
      "sim_ivf_full_probe",
      bruteTopKSql) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val ivf = cachedIvf(s, dir)
      Similarity.ivfTopKWith(ivf, emb.filter(col("vec_id") % 100 === 0), k = 5,
        nprobe = ivf.cents.length)
        .orderBy("query_id", "rank")
    },

    // Recall@5 of IVF (nprobe=4) against exact brute-force top-5 — the
    // evaluation metric the nprobe dial is tuned with, as a first-class
    // operator. The oracle is the literal composition of the two sides'
    // existing oracles (centroid-derived IVF serving + direct brute
    // rank) joined on (query, neighbor); integer permille, no float
    // ratio. Deterministic because both sides tie-break rank 5 by
    // (cosine desc, neighbor_id) with the engine-identical cosine fold.
    NamedQuery(
      "sim_recall",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | dist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist),
         | assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cell FROM rk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         | scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM probe p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN embeddings eq ON eq.vec_id = p.query_id
         |  JOIN embeddings ec ON ec.vec_id = a.vec_id),
         | ivfk AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored) t
         |  WHERE rn <= 5),
         | brutek AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id % 100 = 0) t
         |  WHERE rn <= 5),
         | h AS (SELECT i.query_id, count(*) AS n FROM ivfk i
         |   JOIN brutek b ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |   GROUP BY i.query_id)
         |SELECT q.query_id,
         |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n, 0) * 1000 // 5 AS BIGINT) AS recall_permille
         |FROM (SELECT DISTINCT query_id FROM brutek) q
         |LEFT JOIN h ON q.query_id = h.query_id
         |ORDER BY q.query_id""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      Similarity.recallAtK(
          Similarity.ivfTopKWith(cachedIvf(s, dir), queries, k = 5),
          Similarity.topK(emb, queries, k = 5), k = 5)
        .orderBy("query_id")
    },

    // PQ (product-quantization) ANN: ADC shortlist over the coded corpus
    // + exact cosine rerank. Same oracle strategy as sim_ivf_topk —
    // k-means TRAINING is persisted per run, and the oracle re-derives
    // all of SERVING from the codebooks: per-vector encoding (argmin
    // subspace distance, ties to the lowest code — row_number ORDER BY
    // d, code), per-query ADC tables, the ADC distance as a FIXED-ORDER
    // list_sum fold over subspaces (bit-identical to the engine's
    // m-order loop, so planted duplicate vectors' equal-code ties
    // resolve identically by neighbor_id), the shortlist, and the exact
    // top-5 rerank.
    NamedQuery(
      "sim_pq_topk",
      s"""WITH books AS (SELECT m, code, cw
         |    FROM read_parquet('$PqOracleBooks/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | sd AS (SELECT v.vec_id, b.m, b.code,
         |    list_sum(list_transform(range(1, 9),
         |      i -> (v.e[b.m*8 + i] - b.cw[i]) * (v.e[b.m*8 + i] - b.cw[i]))) AS d
         |  FROM emb v CROSS JOIN books b),
         | enc AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM (
         |    SELECT vec_id, m, code,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
         |    FROM sd) r WHERE rn = 1 GROUP BY vec_id),
         | qtab AS (SELECT q.vec_id AS query_id, b.m, b.code,
         |    list_sum(list_transform(range(1, 9),
         |      i -> (q.e[b.m*8 + i] - b.cw[i]) * (q.e[b.m*8 + i] - b.cw[i]))) AS d
         |  FROM emb q CROSS JOIN books b WHERE q.vec_id % 100 = 0),
         | qtl AS (SELECT query_id, list(d ORDER BY m, code) AS tbl
         |  FROM qtab GROUP BY query_id),
         | adc AS (SELECT q.query_id, v.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 9),
         |      i -> q.tbl[(i-1)*16 + v.codes[i] + 1])) AS d
         |  FROM enc v CROSS JOIN qtl q WHERE v.vec_id <> q.query_id),
         | short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
         |    FROM adc) r WHERE rn <= 20),
         | scored AS (SELECT s.query_id, s.neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM short s
         |  JOIN embeddings eq ON eq.vec_id = s.query_id
         |  JOIN embeddings ec ON ec.vec_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val pq = cachedPq(s, dir)
      Similarity.pqTopK(pq, emb.filter(col("vec_id") % 100 === 0), k = 5, shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // IVF-PQ: the standard billion-scale composition — IVF cells prune
    // WHICH candidates are scored, PQ codes cheapen HOW. The oracle is
    // the literal composition of the sim_ivf_topk and sim_pq_topk
    // oracles from the two persisted training artifacts: nearest-cell
    // assignment + nprobe probe set from the centroids, encoding + ADC
    // tables + the fixed-order fold from the codebooks, candidates =
    // probed-cell members, then shortlist and exact top-5 rerank.
    NamedQuery(
      "sim_ivfpq_topk",
      s"""WITH cents AS (SELECT cell, centroid AS c
         |    FROM read_parquet('$IvfOracleCentroids/*.parquet')),
         | books AS (SELECT m, code, cw
         |    FROM read_parquet('$PqOracleBooks/*.parquet')),
         | emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | cdist AS (SELECT v.vec_id, k.cell,
         |    list_sum(list_transform(range(1, len(v.e)+1),
         |      i -> (v.e[i]-k.c[i])*(v.e[i]-k.c[i]))) AS d
         |  FROM emb v CROSS JOIN cents k),
         | crk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM cdist),
         | assign AS (SELECT vec_id, cell FROM crk WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cell FROM crk
         |    WHERE vec_id % 100 = 0 AND rn <= 4),
         | sd AS (SELECT v.vec_id, b.m, b.code,
         |    list_sum(list_transform(range(1, 9),
         |      i -> (v.e[b.m*8 + i] - b.cw[i]) * (v.e[b.m*8 + i] - b.cw[i]))) AS d
         |  FROM emb v CROSS JOIN books b),
         | enc AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM (
         |    SELECT vec_id, m, code,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
         |    FROM sd) r WHERE rn = 1 GROUP BY vec_id),
         | qtab AS (SELECT q.vec_id AS query_id, b.m, b.code,
         |    list_sum(list_transform(range(1, 9),
         |      i -> (q.e[b.m*8 + i] - b.cw[i]) * (q.e[b.m*8 + i] - b.cw[i]))) AS d
         |  FROM emb q CROSS JOIN books b WHERE q.vec_id % 100 = 0),
         | qtl AS (SELECT query_id, list(d ORDER BY m, code) AS tbl
         |  FROM qtab GROUP BY query_id),
         | adc AS (SELECT p.query_id, v.vec_id AS neighbor_id,
         |    list_sum(list_transform(range(1, 9),
         |      i -> q.tbl[(i-1)*16 + v.codes[i] + 1])) AS d
         |  FROM probe p
         |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN enc v ON v.vec_id = a.vec_id
         |  JOIN qtl q ON q.query_id = p.query_id),
         | short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
         |    FROM adc) r WHERE rn <= 20),
         | scored AS (SELECT s.query_id, s.neighbor_id,
         |    ${cosSql("ec.embedding", "eq.embedding")} AS cosine
         |  FROM short s
         |  JOIN embeddings eq ON eq.vec_id = s.query_id
         |  JOIN embeddings ec ON ec.vec_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, ROUND(cosine, 4) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqTopK(cachedIvf(s, dir), cachedPq(s, dir),
        emb.filter(col("vec_id") % 100 === 0), k = 5, nprobe = 4, shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // ---- text analysis ---------------------------------------------------
    NamedQuery(
      "ta_stats",
      s"""SELECT doc_id,
         |  CAST(len(tk) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS INT) AS n_distinct,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) AS INT) AS n_stopwords,
         |  CAST(coalesce(list_max(list_transform(tk, x -> length(x))), 0) AS INT) AS max_token_len,
         |  CAST(length(text) AS INT) AS n_chars_text,
         |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS INT) AS n_alpha_chars
         |FROM (SELECT doc_id, text, $toks AS tk FROM documents) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.stats(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    NamedQuery(
      "ta_quality",
      s"""SELECT doc_id,
         |  CAST(len(tk) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) * 1000 // len(tk) AS BIGINT) AS distinct_permille,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000 // len(tk) AS BIGINT) AS stopword_permille,
         |  CASE WHEN len(tk) BETWEEN 20 AND 1000
         |         AND len(list_distinct(tk)) * 2 >= len(tk)
         |       THEN 'keep' ELSE 'drop' END AS verdict
         |FROM (SELECT doc_id, $toks AS tk FROM documents) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.quality(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    NamedQuery(
      "ta_langid",
      s"""SELECT doc_id,
         |  CASE WHEN len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 5 >= len(tk)
         |       THEN 'en_heavy'
         |       WHEN list_contains(tk, 'the') THEN 'en_lite'
         |       ELSE 'unknown' END AS lang_pred
         |FROM (SELECT doc_id, $toks AS tk FROM documents) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.langId(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    NamedQuery(
      "ta_token_counts", {
        val pat = TextAnalysis.BpePattern.replace("'", "''") // SQL-quote the pattern's apostrophe
        s"""SELECT doc_id,
           |  CAST(len($toks) AS INT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '$pat', 0)) AS INT) AS n_bpe_tokens,
           |  CAST(length(text) * 1000 //
           |    greatest(len(regexp_extract_all(text, '$pat', 0)), 1) AS BIGINT)
           |    AS chars_per_bpe_permille
           |FROM documents ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      TextAnalysis.tokenCounts(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Gopher-family repetition signals: the Spark side counts n-grams
    // per doc inside one UDF pass (narrow, no shuffle); the oracle
    // re-derives every count via unnest + GROUP BY. Integer per-mille
    // arithmetic on both sides — `//` (floor) matches Long division on
    // the non-negative operands.
    NamedQuery(
      "ta_repetition",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | tokc AS (SELECT doc_id, max(c) AS max_tok FROM (
         |   SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY 1, 2) GROUP BY 1),
         | bgc AS (SELECT doc_id, max(c) AS max_bg FROM (
         |   SELECT doc_id, g, count(*) AS c FROM (
         |     SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |       CASE WHEN i + 1 <= len(tk) THEN x || ' ' || tk[i+1] END)) AS g FROM t)
         |   WHERE g IS NOT NULL GROUP BY 1, 2) GROUP BY 1),
         | tgc AS (SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS d_tg FROM (
         |     SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |       CASE WHEN i + 2 <= len(tk) THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS g FROM t)
         |   WHERE g IS NOT NULL GROUP BY 1),
         | r AS (SELECT t.doc_id,
         |   CAST(len(tk) AS BIGINT) AS n_tokens,
         |   CAST(coalesce(max_tok, 0) * 1000 // greatest(len(tk), 1) AS BIGINT) AS top_token_permille,
         |   CAST(coalesce(max_bg, 0) * 1000 // greatest(len(tk) - 1, 1) AS BIGINT) AS top_bigram_permille,
         |   CAST(coalesce(n_tg - d_tg, 0) * 1000 // greatest(len(tk) - 2, 1) AS BIGINT) AS dup_trigram_permille
         |   FROM t LEFT JOIN tokc USING (doc_id) LEFT JOIN bgc USING (doc_id) LEFT JOIN tgc USING (doc_id))
         |SELECT doc_id, n_tokens, top_token_permille, top_bigram_permille, dup_trigram_permille,
         |  CASE WHEN top_token_permille >= 140 OR top_bigram_permille >= 80
         |         OR dup_trigram_permille >= 40
         |       THEN 'drop' ELSE 'keep' END AS verdict
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetition(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    NamedQuery(
      "ta_fingerprint",
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform(tk, (x, i) ->
         |    CAST(i AS BIGINT) * (length(x) * 31 + unicode(x[1])))) AS BIGINT) % 1000000007 AS fingerprint
         |FROM (SELECT doc_id, $toks AS tk FROM documents) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprint(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Token-distribution entropy (the low-entropy-garbage filter):
    // ent_micro = -Σ round(c·ln(c/n)·10⁶) per doc — terms quantized
    // BEFORE the sum so the fold is exact integer arithmetic on both
    // engines (a raw float Σ p·ln p would drift with aggregation
    // order). Bench: t_en.
    NamedQuery(
      "ta_entropy",
      s"""WITH occ AS (SELECT doc_id, token, count(*) AS c FROM (
         |    SELECT doc_id, unnest($toks) AS token FROM documents) t
         |  GROUP BY 1, 2),
         |w AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM occ)
         |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
         |  CAST(-sum(CAST(round(c * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
         |    AS ent_micro
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.entropy(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Boilerplate mining: the corpus's most document-frequent trigrams
    // (the n-grams a template/header dedup pass would strip). Shingles
    // are distinct per doc by construction, so count = document
    // frequency; top-20 with a lexical tie break is deterministic.
    // One partial-aggregable shuffle on the shingle + a top-k — never
    // per-pair work.
    NamedQuery(
      "ta_top_ngrams",
      s"""SELECT s AS ngram, CAST(count(*) AS BIGINT) AS df FROM (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |      CASE WHEN i + 2 <= len(tk)
         |           THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s
         |    FROM (SELECT doc_id, $toks AS tk FROM documents) t)
         |  WHERE s IS NOT NULL)
         |GROUP BY s ORDER BY df DESC, ngram LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.shingles(Tables.load(s, dir, "documents"), n = 3)
        .groupBy(col("shingle").as("ngram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram")).limit(20)
    },

    // Corpus-LM familiarity (integer-exact CCNet-style LM filter proxy):
    // per-doc mean corpus document-frequency of its distinct trigrams,
    // in per-mille of corpus size. Pure integer arithmetic end-to-end
    // (a real log-perplexity would diverge in the last ulp across
    // engines — oracle-parity hazard class 3), so both engines divide
    // the same integers once. Docs with <3 tokens have no trigrams and
    // are absent on both sides by construction.
    NamedQuery(
      "ta_lm_score",
      s"""WITH tri AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |      CASE WHEN i + 2 <= len(tk)
         |           THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s
         |    FROM (SELECT doc_id, $toks AS tk FROM documents) t)
         |  WHERE s IS NOT NULL),
         | d AS (SELECT s, count(*) AS df FROM tri GROUP BY s)
         |SELECT tri.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
         |  CAST((1000 * sum(d.df)) // (count(*) * (SELECT count(*) FROM documents)) AS BIGINT) AS fam_permille
         |FROM tri JOIN d USING (s) GROUP BY tri.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.lmScore(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // TRAINED classifier (fastText-filter shape reduced to its exactly-
    // reproducible core): multinomial Naive Bayes language ID — train on
    // doc_id % 5 != 0, classify the held-out fifth. Every log-likelihood
    // is quantized to round(ln(p)·1e6) BIGINT at TRAIN time, so scoring
    // is exact integer arithmetic — order-independent under any
    // partitioning, and the oracle re-derives model + inference
    // bit-exactly (ln portability per the ws_bm25 precedent, with the
    // integer quantization removing the float-association hazard
    // entirely). Bench: t_nb.
    NamedQuery(
      "ta_nb_langid",
      s"""WITH tr AS (SELECT doc_id, lang, unnest($toks) AS token
         |            FROM documents WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, lang AS actual, unnest($toks) AS token
         |       FROM documents WHERE doc_id % 5 = 0),
         |cnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot FROM tr GROUP BY 1),
         |vocab AS (SELECT DISTINCT token FROM tr),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         |model AS (SELECT t.lang, vo.token,
         |    CAST(round(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
         |                  / CAST(t.tot + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS logp
         |  FROM vocab vo CROSS JOIN tot t CROSS JOIN v
         |  LEFT JOIN cnt c ON c.lang = t.lang AND c.token = vo.token),
         |pri AS (SELECT a.lang,
         |    CAST(round(ln(CAST(a.nd AS DOUBLE) / CAST(b.nt AS DOUBLE)) * 1000000) AS BIGINT) AS prior
         |  FROM (SELECT lang, count(*) AS nd FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1) a
         |  CROSS JOIN (SELECT count(*) AS nt FROM documents WHERE doc_id % 5 <> 0) b),
         |occ AS (SELECT doc_id, actual, token, CAST(count(*) AS BIGINT) AS occ
         |        FROM te GROUP BY 1, 2, 3),
         |ll AS (SELECT o.doc_id, o.actual, model.lang,
         |         CAST(sum(o.occ * model.logp) AS BIGINT) AS ll
         |       FROM occ o JOIN model ON o.token = model.token GROUP BY 1, 2, 3),
         |sc AS (SELECT ll.doc_id, ll.actual, ll.lang, ll.ll + pri.prior AS score
         |       FROM ll JOIN pri ON ll.lang = pri.lang)
         |SELECT doc_id, actual, lang AS predicted, CAST(score AS BIGINT) AS score
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, lang) AS rk FROM sc) q
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.nbClassify(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
    },

    // ---- multimodal plumbing --------------------------------------------
    NamedQuery(
      "mm_binary_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS payload_len,
        |  hex(encode(substring(text, 1, 8))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.asMedia(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          length(col("payload")).as("payload_len"),
          hex(col("payload").substr(1, 8)).as("head_hex"))
        .orderBy("doc_id")
    },

    NamedQuery(
      "mm_frame_sample",
      """SELECT doc_id, CAST(i AS INT) AS frame_no,
        |  hex(encode(substring(text, i*10+1, 4))) AS frame_hex
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0, (length(text)-1)//10)) AS i
        |      FROM documents) q
        |ORDER BY doc_id, frame_no""".stripMargin) { (s, dir) =>
      Multimodal
        .frameSample(Multimodal.asMedia(Tables.load(s, dir, "documents")), stride = 10, frameLen = 4)
        .orderBy("doc_id", "frame_no")
    },

    NamedQuery(
      "mm_feature_stub",
      // The decode STUB is a pure function of payload bytes (ASCII text ⇒
      // byte i == codepoint of char i+1), so the oracle re-derives it.
      """SELECT doc_id,
        |  CAST(16 + unicode(text[1]) % 64 AS INT) AS width,
        |  CAST(16 + (CASE WHEN length(text) > 1 THEN unicode(text[2]) ELSE 0 END) % 64 AS INT) AS height,
        |  CAST(1 + length(text) % 7 AS INT) AS n_frames,
        |  ROUND(CAST(unicode(text[1]) AS DOUBLE) / 255, 4) AS f0
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal
        .extractFeatures(s, Multimodal.asMedia(Tables.load(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
        .orderBy("doc_id")
    },

    // ---- curation: split / sample / decontaminate / mix / pack ----------
    NamedQuery(
      "cu_split",
      s"""WITH ${bucketCtes(Curation.SplitSalt)}
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 800 THEN 'train'
         |       WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.assignSplit(Tables.load(s, dir, "documents")).orderBy("doc_id")
    },

    // Deterministic training-order shuffle: pos = rank under (salted
    // splitmix64(doc_id), doc_id). The oracle states the permutation as
    // ONE global-sort window — exactly what the engine's bucketed
    // prefix-scan must reproduce without ever forming a single-partition
    // sort.
    NamedQuery(
      "cu_shuffle",
      s"""WITH ${hashCtes(Curation.ShuffleSalt)}
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM hf ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.shuffleOrder(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")
    },

    // Per-source cap (domain balancing): keep the 30 hash-smallest docs
    // per source. The oracle is the fully declarative per-source
    // row_number over the SAME salted splitmix64 (UBIGINT order ==
    // the engine's sign-flipped signed order); the engine's
    // bucket-boundary selection must reproduce it exactly.
    NamedQuery(
      "cu_source_cap",
      s"""WITH ${hashCtes(Curation.SourceCapSalt, ", source")},
         | r AS (SELECT doc_id, source,
         |   row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM hf)
         |SELECT doc_id, source,
         |  CASE WHEN rk <= 30 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.sourceCap(Tables.load(s, dir, "documents"), cap = 30)
        .orderBy("doc_id")
    },

    NamedQuery(
      "cu_sample",
      s"""WITH ${bucketCtes(Curation.SampleSalt)}
         |SELECT doc_id, lang FROM bk
         |WHERE bucket < (CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 800 ELSE 300 END)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.stratifiedSample(Tables.load(s, dir, "documents"), col("lang"),
          Map("en" -> 500, "zh" -> 800), defaultPermille = 300)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Decontamination vs a held-out "benchmark" slice (doc_id % 97 = 0):
    // per corpus doc, how many of its distinct trigrams appear anywhere
    // in the eval slice. Oracle re-derives via string trigrams (hash ≡
    // string equality up to fnv collisions, the dd_ngram_jaccard
    // contract).
    NamedQuery(
      "cu_contam",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         | hits AS (SELECT doc_id, count(*) AS n FROM sh JOIN ev USING (s)
         |          WHERE doc_id % 97 <> 0 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated,
         |  CASE WHEN coalesce(h.n, 0) > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.contamination(
          docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },

    // Near-duplicate (fuzzy) decontamination (eval slice doc_id % 83 =
    // 0, distinct from cu_contam's 97 and cu_bloom's 89): a corpus doc
    // is contaminated iff some eval doc is its jaccard>=0.6 near-dup.
    // The oracle states the EXACT declarative semantics (all corpus x
    // eval pairs through exact set jaccard); the Spark side goes
    // through minhash band candidates + exact verify — same tau=0.6
    // recall-certainty argument as dd_minhash_lsh, and the hash match
    // proves prefilter+verify equals the declarative form.
    NamedQuery(
      "cu_fuzzy_contam",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         | cand AS (SELECT c.doc_id AS a, e.doc_id AS b, count(*) AS i
         |          FROM sh c JOIN sh e USING (s)
         |          WHERE c.doc_id % 83 <> 0 AND e.doc_id % 83 = 0 GROUP BY 1, 2),
         | hits AS (SELECT a, count(*) AS n FROM (
         |   SELECT a, b, i*1.0/(sa.n + sb.n - i) AS j FROM cand
         |   JOIN sz sa ON cand.a = sa.doc_id JOIN sz sb ON cand.b = sb.doc_id) q
         |   WHERE j >= 0.6 GROUP BY a)
         |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_neardups,
         |  CASE WHEN coalesce(h.n, 0) > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.a
         |WHERE d.doc_id % 83 <> 0 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.fuzzyContamination(
          docs.filter(col("doc_id") % 83 =!= 0), docs.filter(col("doc_id") % 83 === 0))
        .orderBy("doc_id")
    },

    // Bloom-prefiltered decontamination (eval slice doc_id % 89 = 0,
    // distinct from cu_contam's % 97 slice). The oracle is the same
    // EXACT-semantics SQL as cu_contam's — the hash match IS the
    // operator's contract: the Bloom prefilter plus exact verify must
    // be result-identical to the broadcast semi-join at any fpp.
    NamedQuery(
      "cu_bloom",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 89 = 0),
         | hits AS (SELECT doc_id, count(*) AS n FROM sh JOIN ev USING (s)
         |          WHERE doc_id % 89 <> 0 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated,
         |  CASE WHEN coalesce(h.n, 0) > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         |WHERE d.doc_id % 89 <> 0 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.contaminationBloom(
          docs.filter(col("doc_id") % 89 =!= 0), docs.filter(col("doc_id") % 89 === 0))
        .orderBy("doc_id")
    },

    // Graded decontamination: the overlap-FRACTION form (integer
    // permille of a doc's distinct 3-grams found in the eval set; drop
    // at >= 200 permille). cu_contam is the membership form; this is
    // the GPT-3/PaLM-style graded gate.
    NamedQuery(
      "cu_overlap",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         | sh AS (SELECT DISTINCT doc_id, s FROM (
         |   SELECT doc_id, unnest(list_transform(tk, (x,i) ->
         |     CASE WHEN i + 2 <= len(tk)
         |          THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS s FROM t)
         |   WHERE s IS NOT NULL),
         | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         | per AS (SELECT sh.doc_id, count(*) AS n_shingles,
         |          count(ev.s) AS n_overlap
         |         FROM sh LEFT JOIN ev ON sh.s = ev.s
         |         WHERE sh.doc_id % 97 <> 0 GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(p.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0
         |       ELSE (p.n_overlap * 1000) // p.n_shingles END AS BIGINT)
         |    AS overlap_permille,
         |  CASE WHEN coalesce(p.n_shingles, 0) <> 0
         |        AND (p.n_overlap * 1000) // p.n_shingles >= 200
         |       THEN 'drop' ELSE 'keep' END AS verdict
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.overlapFraction(
          docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },

    NamedQuery(
      "cu_mix",
      s"""SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_tokens * 1000 // (CAST(sum(n_tokens) OVER () AS BIGINT)) AS BIGINT)
         |    AS weight_permille
         |FROM (SELECT source, count(*) AS n_docs,
         |        CAST(sum(len($toks)) AS BIGINT) AS n_tokens
         |      FROM documents GROUP BY source) q
         |ORDER BY source""".stripMargin) { (s, dir) =>
      Curation.mixtureWeights(Tables.load(s, dir, "documents"), col("source"))
        .orderBy("source")
    },

    // Per-source token budget: survivors in deterministic hash order
    // while the source's running token total stays within budget. The
    // oracle re-derives the full hash, the hash-order window sum, and
    // the inclusive-cumulative keep rule — integer-exact end to end.
    NamedQuery(
      "cu_budget",
      s"""WITH ${hashCtes(Curation.TokenBudgetSalt, ", source")},
         | tok AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         | r AS (SELECT hf.doc_id, hf.source, tok.n_tokens,
         |         SUM(tok.n_tokens) OVER (PARTITION BY hf.source ORDER BY hf.h, hf.doc_id
         |           ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM hf JOIN tok ON hf.doc_id = tok.doc_id)
         |SELECT doc_id, source, n_tokens,
         |  CASE WHEN cum <= 700 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.tokenBudget(Tables.load(s, dir, "documents"), budget = 700L)
        .orderBy("doc_id")
    },

    // Deterministic per-split dataset manifest — the reproducibility
    // attestation a training run records (counts + an order-independent
    // membership/size signature): sig = Σ mix64(doc_id ⊕ salt)·(1+n_chars)
    // mod 2⁶⁴. The oracle re-derives the full hash chain, the modular
    // product/sum in HUGEINT, and the signed-BIGINT mapping — so the
    // engine's ANSI-safe hi/lo-half summation is proven equal to the
    // straight modular arithmetic.
    NamedQuery(
      "cu_manifest",
      s"""WITH ${hashCtes(Curation.ManifestSalt, ", n_chars, text")},
         | ${bucketCtes(Curation.SplitSalt)},
         | d AS (SELECT hf.doc_id,
         |         CASE WHEN bk.bucket < 800 THEN 'train'
         |              WHEN bk.bucket < 900 THEN 'val' ELSE 'test' END AS split,
         |         hf.n_chars,
         |         CAST(len($toks) AS BIGINT) AS n_tok,
         |         (CAST(hf.h AS HUGEINT) * (1 + hf.n_chars))
         |           % 18446744073709551616 AS t
         |       FROM hf JOIN bk ON hf.doc_id = bk.doc_id),
         | a AS (SELECT split, count(*) AS n_docs, sum(n_tok) AS n_tokens,
         |         sum(n_chars) AS sum_chars,
         |         sum(t) % 18446744073709551616 AS m
         |       FROM d GROUP BY split)
         |SELECT split, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sum_chars AS BIGINT) AS sum_chars,
         |  CAST(CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
         |            ELSE m END AS BIGINT) AS sig
         |FROM a ORDER BY split""".stripMargin) { (s, dir) =>
      Curation.manifest(Tables.load(s, dir, "documents"))
    },

    // Temperature-balanced sampling (α = 1/2): per-source quotas from
    // isqrt(token) weights, applied as an independent permille gate.
    // The oracle re-derives the quota arithmetic (integer after the
    // correctly-rounded sqrt) and the splitmix64 gate bit-identically.
    NamedQuery(
      "cu_temp",
      s"""WITH ${hashCtes(Curation.TempSalt, ", source")},
         | per AS (SELECT source, count(*) AS nd,
         |           CAST(coalesce(sum(len($toks)), 0) AS BIGINT) AS nt
         |         FROM documents GROUP BY source),
         | w AS (SELECT source, nd, CAST(floor(sqrt(CAST(nt AS DOUBLE))) AS BIGINT) AS w FROM per),
         | kp AS (SELECT source,
         |          CASE WHEN nd = 0 THEN 0 ELSE
         |            least(1000, ((300 * w) // (SELECT sum(w) FROM w)) * 1000 // nd)
         |          END AS kp
         |        FROM w)
         |SELECT hf.doc_id, hf.source FROM hf JOIN kp USING (source)
         |WHERE CAST(h % 1000 AS INT) < kp.kp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.temperatureSample(Tables.load(s, dir, "documents"), targetDocs = 300L)
        .orderBy("doc_id")
    },

    // PII scrubbing. The synthetic corpus contains no PII, so the query
    // PLANTS deterministic addresses derived from doc_id on BOTH sides —
    // the oracle exercises real matches, not a vacuous all-zeros pass.
    NamedQuery(
      "cu_redact",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '${Curation.EmailRe}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(ne, '${Curation.Ipv4Re}')) AS INT) AS n_ips,
         |  regexp_replace(ne, '${Curation.Ipv4Re}', '<IP>', 'g') AS redacted
         |FROM (SELECT doc_id, t2,
         |        regexp_replace(t2, '${Curation.EmailRe}', '<EMAIL>', 'g') AS ne
         |      FROM (SELECT doc_id,
         |        text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |        '@example.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t2
         |      FROM documents) q0) q
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val planted = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.org from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
      Curation.redactPii(planted).orderBy("doc_id")
    },

    NamedQuery(
      "cu_pack",
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, n_tokens,
         |   CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |   FROM t)
         |SELECT doc_id, n_tokens, cb // 512 AS seq_id, cb % 512 AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.packSequences(Tables.load(s, dir, "documents"), budget = 512)
        .orderBy("doc_id")
    },

    // Weighted sampling without replacement (Efraimidis–Spirakis A-Res,
    // weight = n_chars, top 300): rank by the QUANTIZED key
    // round(ln(u)/w·10⁶) with u from unsalted splitmix64(doc_id) —
    // deterministic, bit-portable (the ta_nb ln contract), near-ties
    // break on doc_id. One narrow projection + a bounded
    // TakeOrderedAndProject. Bench: c_ws.
    NamedQuery(
      "cu_wsample",
      s"""WITH ${hashCtes(0L, ", n_chars")},
         |u AS (SELECT doc_id, n_chars,
         |    (CAST(h >> 11 AS DOUBLE) + 1) / 9007199254740992.0 AS u FROM hf),
         |k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         |    CAST(round(ln(u) / n_chars * 1000000) AS BIGINT) AS es_key
         |  FROM u WHERE n_chars > 0)
         |SELECT doc_id, weight, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 300""".stripMargin) { (s, dir) =>
      Curation.weightedSample(Tables.load(s, dir, "documents"),
          col("n_chars"), n = 300)
        .orderBy(col("es_key").desc, col("doc_id"))
    },

    // Sliding-window chunking (size 32, stride 24 → 8-token overlap):
    // cu_pack's complement — packing CONCATENATES short docs, this
    // SPLITS long ones into context-window/RAG passages. Pure narrow
    // per-row projection (tokenize → window starts → slice+rejoin), no
    // shuffle; the oracle re-derives every window from the same simple
    // contract (one chunk per stride-aligned start below the token
    // count). Bench: c_ck.
    NamedQuery(
      "cu_chunk",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |    unnest(generate_series(0, len(tk) - 1, 24)) AS start
         |  FROM t WHERE len(tk) > 0)
         |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_id,
         |  CAST(least(32, len(tk) - start) AS INT) AS n_chunk_tokens,
         |  array_to_string(tk[start + 1 : start + 32], ' ') AS chunk
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      Curation.chunkDocuments(Tables.load(s, dir, "documents"),
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },

    // DSIR-style importance scoring (unigram log-likelihood ratio
    // toward a target distribution — here lang='en' stands in for the
    // curated reference corpus) and top-200 selection. Integer-exact
    // end-to-end per the ta_nb_langid quantization contract
    // (round(ln·10⁶) BIGINT at model time), so the oracle re-derives
    // model and scores bit-exactly; ties across the selection boundary
    // break on doc_id on both sides. Bench: c_dr.
    NamedQuery(
      "cu_dsir",
      dsirOracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      dsirTop(docs, Curation.dsirScore(docs, col("lang") === "en"))
    },

    // cu_dsir's model maintained LIVE (streaming/LiveModel): three
    // disjoint document micro-batches each persist a (token, cr, ct)
    // count-table DELTA (O(|batch vocabulary|) rows — the corpus is
    // never re-scanned), a fresh maintainer merges them with ONE
    // distributed keyed sum (the IncrementalIndex merge-on-read posture
    // applied to model state — NOT a driver merge: vocabularies aren't
    // sketch-constants), and the quantized model derives through the
    // SAME Curation.dsirModel the batch operator uses. Integer-sum
    // associativity makes the merged table bit-identical to the
    // one-pass table under any split, so the oracle is cu_dsir's SQL
    // VERBATIM — the q38/q39 posture at vocabulary scale. Bench: c_ld.
    NamedQuery(
      "cu_live_dsir",
      dsirOracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = liveDsirCache(s, dir) {
        val tmp = java.nio.file.Files.createTempDirectory("graft-live-dsir").toString
        val writer = new graft.streaming.LiveDsirModelMaintainer(s, tmp)
        (0 until 3).foreach(b =>
          writer.processBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
            col("lang") === "en", b.toLong))
        val m = new graft.streaming.LiveDsirModelMaintainer(s, tmp)
          .modelAt().get.cache()
        m.count() // materialize once; serving reads the cache
        m
      }
      dsirTop(docs, Curation.dsirScoreWith(docs, model))
    },

    // The OOV branch of the DSIR serving contract on the gate: the
    // model trains on HALF the corpus (doc_id % 2 = 0), then scores ALL
    // documents — the other half's novel vocabulary is out-of-model at
    // serve time, the live-deployment shape cu_dsir cannot exercise
    // (its model sees every scored token). oovLr = the documented
    // add-one floor (dsirOovFloor: what dsirModel would assign a
    // zero-count token), so every occurrence counts in n_tokens and
    // OOV occurrences score at the floor — integer-exact, re-derived
    // by the oracle through the same left-join + coalesce. Bench: c_do.
    NamedQuery(
      "cu_dsir_oov",
      dsirOovOracleSql) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // r13: same two-explode composition, floor IN-PLAN
      // (dsirScoreWithFloor doc for the A/B and bit-exactness
      // argument). A full one-pass rewrite (single corpus explode
      // feeding both the count table and the scoring join) was also
      // measured and is ~25% SLOWER — the extra corpus-scale occurrence
      // shuffle costs more than the saved tokenization pass; see
      // OPTIMIZATION_r13.md.
      dsirTop(docs, Curation.dsirScoreWithFloor(docs, Curation.dsirCounts(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), col("lang") === "en")))
    },

    // Exact corpus-quantile quality gate (drop the worst quartile by
    // lexical diversity). The integer-permille score domain makes the
    // exact quantile computable from a bounded histogram — no global
    // sort, no approx sketch; the oracle re-derives the same rank-
    // defined threshold (value at ascending rank ceil(250·N/1000),
    // stated in pure integers as 1000·rn >= 250·N — no float ceil) via
    // row_number, an independent formulation of the same definition.
    // Zero-token docs are excluded by definition on both sides.
    NamedQuery(
      "cu_quality_gate",
      s"""WITH s AS (SELECT doc_id,
         |    CAST(len(list_distinct(tk)) * 1000 // len(tk) AS BIGINT) AS distinct_permille
         |  FROM (SELECT doc_id, $toks AS tk FROM documents) q WHERE len(tk) > 0),
         |n AS (SELECT count(*) AS n FROM s),
         |th AS (SELECT min(distinct_permille) AS p_threshold FROM (
         |    SELECT distinct_permille, row_number() OVER (ORDER BY distinct_permille) AS rn
         |    FROM s) r, n
         |  WHERE rn * 1000 >= 250 * n.n)
         |SELECT s.doc_id, s.distinct_permille, th.p_threshold
         |FROM s, th WHERE s.distinct_permille >= th.p_threshold
         |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      Curation.qualityGate(Tables.load(s, dir, "documents"), qPermille = 250)
        .orderBy("doc_id")
    }
  )
}
