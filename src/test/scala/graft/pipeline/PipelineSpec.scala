package graft.pipeline

import graft.SparkSuite

import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length == 3)
    val dupGroup = g.find(_.getAs[Long]("group_size") == 2).get
    assert(dupGroup.getAs[Long]("keeper_id") == 1L)
  }

  test("ngram jaccard finds near-dup and exact pairs") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, tau = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hot-shingle DF cap: capped join returns EXACT jaccard when every doc has cold shingles") {
    // Skewed fixture: a boilerplate 3-gram ("copyright header boiler")
    // shared by ALL docs (DF=6 > cap=3) plus per-pair distinctive text.
    // The no-false-negative condition h_d < tau·n_d holds (1 hot shingle
    // per doc, ≥ 6 shingles per doc, tau=0.3 ⇒ 1 < 1.8), so the capped
    // run must equal the uncapped run CELL-EXACTLY — the hot shingle is
    // dropped from the join but restored in the intersection count.
    val skew = Seq(
      (1L, "copyright header boiler alpha beta gamma delta epsilon zeta"),
      (2L, "copyright header boiler alpha beta gamma delta epsilon eta"),
      (3L, "copyright header boiler theta iota kappa lambda mu nu"),
      (4L, "copyright header boiler theta iota kappa lambda mu xi"),
      (5L, "copyright header boiler omicron pi rho sigma tau upsilon"),
      (6L, "copyright header boiler phi chi psi omega aleph bet")
    ).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.jaccardPairs(skew, n = 3, tau = 0.3, dfCap = cap)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val uncapped = run(0)
    val capped   = run(3)
    assert(uncapped.nonEmpty) // near-dup pairs (1,2) and (3,4) exist
    assert(capped == uncapped)
    // the cap is actually engaged: the boilerplate shingle has DF 6 > 3
    val df = Dedup.shingles(skew, 3).groupBy("shingle").count()
      .filter($"count" > 3).count()
    assert(df >= 1)
  }

  test("hot-shingle DF cap: hot-only pairs (precondition violators) are still found") {
    // A cluster of 5 identical boilerplate docs: every shingle has DF 5
    // > cap 3, so ALL their shingles are hot and the pairs share no cold
    // shingle — unreachable through the cold self-join alone. The
    // violator join (h_d ≥ tau·n_d docs) must keep them as candidates,
    // and the hot-set correction must restore the exact jaccard (1.0).
    val boiler = Seq(
      (1L, "terms of service apply here always forever"),
      (2L, "terms of service apply here always forever"),
      (3L, "terms of service apply here always forever"),
      (4L, "terms of service apply here always forever"),
      (5L, "terms of service apply here always forever"),
      (6L, "totally unrelated fresh content words elsewhere")
    ).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.jaccardPairs(boiler, n = 3, tau = 0.5, dfCap = cap)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val uncapped = run(0)
    assert(uncapped.size == 10 && uncapped.forall(_._3 == 1.0))
    assert(run(3) == uncapped)
  }

  test("connected components: chains, cliques, and isolated nodes") {
    // one 10-node chain (needs multiple star rounds — diameter 9), one
    // triangle, one isolated pair; node 100 appears in no pair
    val chain  = (1L until 10L).map(i => (i, i + 1))
    val tri    = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pair   = Seq((31L, 30L)) // reversed orientation on purpose
    val pairs  = (chain ++ tri ++ pair).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(comp(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    assert(comp(30L) == 30L && comp(31L) == 30L)
    assert(!comp.contains(100L)) // isolated docs are the caller's join
  }

  test("connected components: distributed star loop equals driver union-find") {
    // random graph with chains, cliques, and singleton-pair mix; the
    // size-adaptive driver path (default threshold) must agree with the
    // distributed star-contraction (driverThreshold = 0) label-for-label
    val rnd = new scala.util.Random(11)
    val edges = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val pairs = edges.toDF("a", "b")
    val driver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist)
  }

  test("dedupClusters: keep-first verdict per component, isolated docs keep") {
    val docs  = Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.dedupClusters(docs, pairs)
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 1L, "keep"), (2L, 1L, "drop"), (3L, 1L, "drop"),
      (4L, 4L, "keep"), (5L, 5L, "keep")))
  }

  test("minhash LSH recovers the same near-dup pairs on this corpus") {
    val pairs = Dedup.minhashPairs(docs, tau = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental minhash: corpus-fresh and fresh-fresh pairs only, never corpus-corpus") {
    // corpus: 1/4 are near-dups of each other; fresh: 11 dups 1, 12 dups 11
    val corpus = docs // 1,2,3,4 — (1,2),(1,4),(2,4) are pairs at tau 0.5
    val fresh = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"), // dups corpus 1/4 and fresh 12
      (12L, "the quick brown fox jumps over the lazy dog"),
      (13L, "entirely novel fresh content nothing shared")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashPairsIncremental(corpus, fresh, tau = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every pair touches the fresh shard; orientation (corpus, fresh)
    assert(got.forall { case (_, b) => b >= 11L })
    assert(got.contains((1L, 11L)) && got.contains((4L, 12L)) && got.contains((11L, 12L)))
    // the corpus-corpus near-dup (1,4) is NOT re-derived
    assert(!got.contains((1L, 4L)) && !got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("minhash signature of identical sets is identical; fnv1a deterministic") {
    val s1 = Dedup.minhashSignature(Seq("a", "b", "c"))
    val s2 = Dedup.minhashSignature(Seq("c", "b", "a"))
    assert(s1.toSeq == s2.toSeq) // order-invariant (set semantics)
    assert(Dedup.fnv1a("token", 1L) == Dedup.fnv1a("token", 1L))
    assert(Dedup.fnv1a("token", 1L) != Dedup.fnv1a("token", 2L))
  }

  test("simhash: identical docs at distance 0, near-dups close, rest far") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 16, chunks = 32)
      .select("a", "b", "dist").as[(Long, Long, Int)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.get((1L, 2L)).exists(_ <= 16))
  }

  test("cosine similarity: identical vectors → 1, orthogonal → 0") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.bruteForcePairs(emb, tau = -1.0)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(pairs((1L, 3L))) < 1e-9)
  }

  test("topK ranks by cosine") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.topK(emb, emb.filter($"vec_id" === 0), k = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(top(1) == 1L && top(2) == 2L)
  }

  test("IVF topK: probing recovers the brute-force neighbor on separated clusters") {
    val emb = (0 until 20).map { i =>
      val base = if (i < 10) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i % 5) + d) })
    }.toDF("vec_id", "embedding")
    val top = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0), k = 3, cells = 2, nprobe = 1)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    // with nprobe=1, all neighbors come from vec 0's own cluster cell
    assert(top.values.toSet.subsetOf((1L to 9L).toSet))
    assert(top.size == 3)
  }

  test("multi-table LSH recovers a cosine-0.9 pair a single table usually misses") {
    // Planted pair at EXACTLY cosine 0.9 (Gram-Schmidt construction):
    // p = 1-acos(0.9)/π ≈ 0.856, so one 8-bit table buckets it with prob
    // p^8 ≈ 0.29, while 16 such tables miss with (1-p^8)^16 ≈ 0.004 —
    // the multi-table union must find it (deterministic: fixed seeds).
    val rnd = new scala.util.Random(5)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    val bg = (0 until 30).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val u1 = unit(Array.fill(16)(rnd.nextGaussian().toFloat))
    val g2 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val d  = u1.zip(g2).map { case (a, b) => a * b }.sum
    val u2 = unit(g2.zip(u1).map { case (b, a) => b - d * a }) // ⊥ u1
    val near = u1.zip(u2).map { case (a, b) => 0.9f * a + math.sqrt(1 - 0.81).toFloat * b }
    val emb = (bg :+ (100L, u1) :+ (101L, near)).toDF("vec_id", "embedding")
    val pairs = Similarity.lshPairsMulti(emb, dim = 16, tau = 0.85, tables = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)))
  }

  test("prebuilt IVF index answers identically to train-per-call ivfTopK") {
    val emb = (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i % 5) + d) })
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 10 === 0)
    val direct = Similarity.ivfTopK(emb, queries, k = 3, cells = 4, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val ivf = Similarity.buildIvf(emb, cells = 4)
    val probed = Similarity.ivfTopKWith(ivf, queries, k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(probed == direct)
  }

  test("IVF radius search: full probe equals exact rangeSearch; partial probe returns a subset") {
    val emb = (0 until 60).map { i =>
      val base = if (i < 30) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i % 7) + d) })
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 15 === 0).select("vec_id", "embedding")
    val ivf = Similarity.buildIvf(emb, cells = 4)
    // nprobe = cells removes the recall approximation: the thresholded
    // set must EQUAL the exact broadcast-join rangeSearch
    val got = Similarity.rangeSearchWith(ivf, queries, tau = 0.9, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.rangeSearch(emb, queries, tau = 0.9)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // partial probe: never a superset, and every row still clears tau
    val partial = Similarity.rangeSearchWith(ivf, queries, tau = 0.9, nprobe = 1)
      .collect().map(_.toString).toSet
    assert(partial.subsetOf(want.toSet))
    // allowed-set restriction composes: results ⊆ allowed ids
    val allowed = emb.filter($"vec_id" % 2 === 0)
    val restricted = Similarity.rangeSearchWith(ivf, queries, tau = 0.9,
        nprobe = 4, allowed = Some(allowed))
      .select("neighbor_id").as[Long].collect()
    assert(restricted.nonEmpty && restricted.forall(_ % 2 == 0))
  }

  test("filtered ANN: pre-filter equals brute-force top-k over the allowed subset at full probe") {
    val emb = (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i % 5) + d) },
        (i % 3))
    }.toDF("vec_id", "embedding", "label")
    val queries = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val allowed = emb.filter($"label" === 1)
    val ivf = Similarity.buildIvf(emb.select("vec_id", "embedding"), cells = 4)
    // full probe removes the recall approximation, isolating the filter:
    // the result must EQUAL brute-force top-k over only the allowed set
    val got = Similarity.ivfTopKWith(ivf, queries, k = 3, nprobe = 4,
        allowed = Some(allowed))
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.topK(allowed.select("vec_id", "embedding"), queries, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // and every neighbor is from the allowed set
    val allowedIds = allowed.select("vec_id").as[Long].collect().toSet
    val neighbors = Similarity.ivfTopKWith(ivf, queries, k = 3, nprobe = 2,
        allowed = Some(allowed))
      .select("neighbor_id").as[Long].collect()
    assert(neighbors.nonEmpty && neighbors.forall(allowedIds.contains))
  }

  test("semDedup: drops within-cell near-dups keep-lowest-id; cross-cell pairs untouched") {
    // hand-built assignment pins the semantics: vecs 1,2 are identical in
    // cell 0 (2 drops); vec 3 is identical to them but in cell 1 (keeps —
    // the documented within-cluster-only approximation); vec 4 is
    // orthogonal in cell 0 (keeps)
    val assigned = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1),
      (4L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "cell")
    val ivf = Similarity.IvfIndex(Array(Array(1.0, 0.0), Array(0.0, 1.0)), assigned)
    val got = Similarity.semDedup(ivf, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "keep", 2L -> "drop", 3L -> "keep", 4L -> "keep"))
  }

  test("persisted IVF index: parquet round-trip answers identically and prunes cells") {
    val emb = (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i % 5) + d) })
    }.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 10 === 0)
    val ivf = Similarity.buildIvf(emb, cells = 4, persist = false)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvf(ivf, dir)
    val loaded = Similarity.loadIvf(spark, dir)
    assert(loaded.cents.map(_.toSeq).toSeq == ivf.cents.map(_.toSeq).toSeq)
    val fromMem  = Similarity.ivfTopKWith(ivf, queries, k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val probed = Similarity.ivfTopKWith(loaded, queries, k = 3, nprobe = 2)
    val fromDisk = probed.collect().map(_.toString).sorted.toSeq
    assert(fromDisk == fromMem)
    // the probed cell set lands in the parquet scan as a NON-EMPTY
    // partition filter (FileSourceScanExec prints 'PartitionFilters: []'
    // on any partitioned read, so assert on the bracket CONTENTS)
    val plan = probed.queryExecution.executedPlan.toString
    val pf = """PartitionFilters: \[([^\]]*)\]""".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(f => f.contains("cell") && f.contains("IN")), s"no cell IN filter in: $pf")
  }

  test("LSH buckets put identical vectors together") {
    val emb = Seq(
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(0.5f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(emb, dim = 8, bits = 4)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))
  }

  test("multimodal stub: features deterministic, frame sampling covers payload") {
    val media = Multimodal.asMedia(docs)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 4)
    assert(feats.forall(f => f.feature.length == 8 && f.width >= 16 && f.n_frames >= 1))
    val f1 = feats.find(_.doc_id == 1L).get
    val f4 = feats.find(_.doc_id == 4L).get
    assert(f1.width == f4.width && f1.feature.toSeq == f4.feature.toSeq) // same payload ⇒ same features
    val frames = Multimodal.frameSample(media.filter($"doc_id" === 1), stride = 10, frameLen = 4)
    assert(frames.count() == 5) // 43-byte payload, stride 10
  }

  test("embedding near-dup verdicts: keep-first, drop later similar vectors") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f)), // near-dup of 1 → drop
      (3L, Array(0.0f, 1.0f))    // orthogonal → keep
    ).toDF("vec_id", "embedding")
    val v = Dedup.embeddingDedupVerdicts(emb, tau = 0.9)
      .as[(Long, String)].collect().toMap
    assert(v(1L) == "keep" && v(2L) == "drop" && v(3L) == "keep")
  }

  test("token counts: whitespace vs BPE-ish pre-tokens") {
    val d = Seq((1L, "it's over 9000 tokens, really")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d).collect().head
    assert(r.getAs[Int]("n_ws_tokens") == 5)
    // it|'s| over| 9000| tokens|,| really → 7 pre-tokens
    assert(r.getAs[Int]("n_bpe_tokens") == 7)
  }

  test("text analysis stats are exact") {
    val st = TextAnalysis.stats(docs.filter($"doc_id" === 1)).collect().head
    assert(st.getAs[Int]("n_tokens") == 9)
    assert(st.getAs[Int]("n_distinct") == 8) // 'the' twice
    assert(st.getAs[Int]("n_stopwords") == 2)
    assert(st.getAs[Int]("max_token_len") == 5)
  }

  test("repetition signals: hand-computed n-gram shares and degenerate lengths") {
    val d = Seq(
      (1L, "spam spam spam spam"), // 1 distinct token, 1 distinct bigram, 1 distinct trigram
      (2L, "a b c d e"),           // no repetition at all
      (3L, "x y x y x y"),         // alternation: bigrams repeat, trigrams repeat
      (4L, "solo"),                // 1 token: no bigrams/trigrams
      (5L, "")                     // empty: no tokens
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("top_token_permille") == 1000)
    assert(r(1L).getAs[Long]("top_bigram_permille") == 1000)
    assert(r(1L).getAs[Long]("dup_trigram_permille") == 500) // 2 trigrams, 1 duplicate
    assert(r(1L).getAs[String]("verdict") == "drop")
    assert(r(2L).getAs[Long]("top_token_permille") == 200) // 1 of 5
    assert(r(2L).getAs[Long]("dup_trigram_permille") == 0)
    assert(r(2L).getAs[String]("verdict") == "drop") // 200 >= 140: tiny docs are all "top token"
    // x y x y x y: tokens 3/6, bigrams: "x y"×3 "y x"×2 → top 3/5,
    // trigrams: "x y x"×2 "y x y"×2 → 2 duplicates of 4
    assert(r(3L).getAs[Long]("top_token_permille") == 500)
    assert(r(3L).getAs[Long]("top_bigram_permille") == 600)
    assert(r(3L).getAs[Long]("dup_trigram_permille") == 500)
    assert(r(4L).getAs[Long]("n_tokens") == 1)
    assert(r(4L).getAs[Long]("top_bigram_permille") == 0)
    assert(r(5L).getAs[Long]("n_tokens") == 0)
    assert(r(5L).getAs[Long]("top_token_permille") == 0)
  }

  test("lmScore: hand-computed familiarity, short docs absent, per-doc-distinct trigrams") {
    val d = Seq(
      (1L, "a b c d"), // trigrams {a b c, b c d}
      (2L, "a b c"),   // trigrams {a b c}
      (3L, "x y"),     // <3 tokens: unscorable
      (4L, "")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lmScore(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet == Set(1L, 2L)) // short/empty docs are absent, not zero
    // n_docs=4; df("a b c")=2, df("b c d")=1
    assert(r(1L).getAs[Long]("n_tri") == 2)
    assert(r(1L).getAs[Long]("fam_permille") == 375) // (1000*3) div (2*4)
    assert(r(2L).getAs[Long]("n_tri") == 1)
    assert(r(2L).getAs[Long]("fam_permille") == 500) // (1000*2) div (1*4)

    // a trigram repeated WITHIN a doc counts once (distinct per doc):
    // without distinctness doc 10's sum_df would triple and exceed 1000
    val rep = Seq((10L, "t t t t t"), (11L, "t t t")).toDF("doc_id", "text")
    val r2 = TextAnalysis.lmScore(rep).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r2(10L).getAs[Long]("n_tri") == 1)
    assert(r2(10L).getAs[Long]("fam_permille") == 1000) // df=2, n_docs=2
    assert(r2(11L).getAs[Long]("fam_permille") == 1000)
  }

  // ---- curation ----------------------------------------------------------

  test("split assignment is deterministic and independent of sampling") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run() = Curation.assignSplit(d).as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val s1 = run(); val s2 = run()
    assert(s1 == s2) // stable run-to-run
    val splits = s1.values.map(_._2).toSeq
    assert(splits.count(_ == "train") > 120 && splits.count(_ == "test") > 5)
    // independence: the sampling hash must not reuse the split hash
    val kept = Curation
      .stratifiedSample(d.withColumn("lang", lit("en")), col("lang"), Map("en" -> 500), 0)
      .select("doc_id").as[Long].collect().toSet
    val trainIds = s1.collect { case (id, (_, "train")) => id }.toSet
    assert(kept.exists(id => !trainIds.contains(id))) // not the same partition of ids
  }

  test("stratified sampling respects per-stratum rates") {
    val d = (0L until 400L).map(i => (i, "x", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val kept = Curation.stratifiedSample(d, col("lang"), Map("en" -> 1000), 0)
      .select("doc_id", "lang").as[(Long, String)].collect()
    assert(kept.forall(_._2 == "en") && kept.length == 200) // rate 1000 keeps all, 0 drops all
  }

  test("sourceCap keeps exactly the cap hash-smallest docs per source, any bucket count") {
    val docs = (1L to 40L).map(i => (i, s"text $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    // naive reference: full per-source sort by the same (flipped) hash
    val hUdf = udf { id: Long =>
      Dedup.mix64(id ^ Curation.SourceCapSalt) ^ Long.MinValue
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("hf"), col("doc_id"))
    val naive = docs.select(col("doc_id"), col("source"), hUdf(col("doc_id")).as("hf"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"),
        when(col("rk") <= 5, lit("keep")).otherwise(lit("drop")).as("verdict"))
      .as[(Long, String)].collect().toMap
    // buckets=1 (everything is the boundary bucket) through 1024 (the
    // boundary bucket is usually empty or tiny) must all agree with it
    for (buckets <- Seq(1, 2, 1024)) {
      val got = Curation.sourceCap(docs, cap = 5, buckets = buckets)
        .select("doc_id", "verdict").as[(Long, String)].collect().toMap
      assert(got == naive, s"buckets=$buckets diverged")
    }
    // per-source kept counts are exactly min(cap, |source|)
    val kept = Curation.sourceCap(docs, cap = 5)
      .filter(col("verdict") === "keep")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(kept.values.toSet == Set(5L))
    // a cap above every source size keeps everything
    assert(Curation.sourceCap(docs, cap = 100)
      .filter(col("verdict") === "drop").isEmpty)
  }

  test("contamination counts planted eval-set trigram overlaps exactly") {
    val evals  = Seq((100L, "secret eval question about spark joins")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares exactly 2 trigrams: "secret eval question", "eval question about"
      (1L, "this doc leaks the secret eval question about nothing"),
      (2L, "entirely unrelated words here friend")
    ).toDF("doc_id", "text")
    val c = Curation.contamination(corpus, evals)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(c(1L) == ((2L, "contaminated")))
    assert(c(2L) == ((0L, "clean")))
  }

  test("fuzzyContamination flags near-dup eval leakage that exact overlap under-grades") {
    val base = "the quick brown fox jumps over the lazy dog again and"
    val evals = Seq((100L, s"$base again")).toDF("doc_id", "text")
    val corpus = Seq(
      // tail variant of the eval doc: one changed final word alters one
      // of ~11 distinct trigrams -> jaccard ~0.8 >= 0.6: NEAR-DUP
      (1L, s"$base more"),
      // shares two verbatim trigrams but is mostly other text: exact
      // contamination flags it, near-dup contamination does NOT
      // (jaccard ~2/20 = 0.1 < 0.6) — the operators answer different
      // questions and the fixtures pin the difference
      (2L, "unrelated padding sentence mentioning the quick brown fox once amid many other diverse tokens spread widely"),
      (3L, "entirely different text about columnar execution engines")
    ).toDF("doc_id", "text")
    val fuzzy = Curation.fuzzyContamination(corpus, evals)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fuzzy(1L) == ((1L, "contaminated")))
    assert(fuzzy(2L) == ((0L, "clean")))
    assert(fuzzy(3L) == ((0L, "clean")))
    val exact = Curation.contamination(corpus, evals)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(exact(2L) == "contaminated") // the complementary verdict
  }

  test("fuzzyContamination keeps a corpus/eval near-dup pair that shares its doc_id") {
    // corpus and eval ids are separate id spaces: an equal id is a
    // different document, so the band join must not drop the pair
    val base = "the quick brown fox jumps over the lazy dog again and"
    val evals = Seq((1L, s"$base again"), (7L, "nothing like any corpus text at all here"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"$base more"),
      (2L, "entirely different text about columnar execution engines")
    ).toDF("doc_id", "text")
    val fuzzy = Curation.fuzzyContamination(corpus, evals)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fuzzy == Map(1L -> ((1L, "contaminated")), 2L -> ((0L, "clean"))))
  }

  test("bandPairs: self, shared-id and disjoint-id pairings equal a driver-side brute force") {
    val rnd = new scala.util.Random(31)
    val bands = 4
    (1 to 3).foreach { trial =>
      // (id, band, key, tag): keys from a 3-value domain so buckets collide
      def table(ids: Seq[Long], side: Int) = for (id <- ids; b <- 0 until bands)
        yield (id, b, rnd.nextInt(3), id * 10 + side)
      val xs = table(1L to 20L, 0)
      // ids 15..20 overlap xs; id 15 copies its xs keys, so it shares every band
      val ys = table(15L to 30L, 1).map { case r @ (id, b, _, tag) =>
        if (id == 15L) (id, b, xs.find(x => x._1 == 15L && x._2 == b).get._3, tag) else r }
      def keys(t: Seq[(Long, Int, Int, Long)]) = t.map(r => (r._1, r._2) -> r._3).toMap
      def brute(x: Seq[(Long, Int, Int, Long)], y: Seq[(Long, Int, Int, Long)],
          idOk: (Long, Long) => Boolean): Set[(Long, Long)] = {
        val (kx, ky) = (keys(x), keys(y))
        (for (i <- x.map(_._1).distinct; j <- y.map(_._1).distinct
             if idOk(i, j) && (0 until bands).exists(b => kx((i, b)) == ky((j, b)))) yield (i, j)).toSet
      }
      def run(x: Seq[(Long, Int, Int, Long)], y: Seq[(Long, Int, Int, Long)], p: Banding.Pairing) = {
        val rows = Banding.bandPairs(x.toDF("id", "band", "key", "tag"),
            y.toDF("id", "band", "key", "tag"), p, "id", Seq("band", "key"), Seq("tag"))
          .select("a", "b", "a_tag", "b_tag").as[(Long, Long, Long, Long)].collect()
        val sideY = if (x eq y) 0 else 1
        assert(rows.forall(r => r._3 == r._1 * 10 && r._4 == r._2 * 10 + sideY),
          s"trial $trial: payload columns not carried from their own side")
        rows.map(r => (r._1, r._2)).toSet
      }
      val self = run(xs, xs, Banding.Self)
      assert(self.nonEmpty && self == brute(xs, xs, _ < _), s"trial $trial: self form")
      val shared = run(xs, ys, Banding.SharedIds)
      assert(shared == brute(xs, ys, _ != _), s"trial $trial: shared-id form")
      assert(!shared.exists(p => p._1 == p._2), s"trial $trial: shared-id form paired an id with itself")
      val disjoint = run(xs, ys, Banding.DisjointIds)
      assert(disjoint == brute(xs, ys, (_, _) => true), s"trial $trial: disjoint-id form")
      assert(disjoint.contains((15L, 15L)), s"trial $trial: disjoint-id form dropped an equal-id pair")
    }
  }

  test("contaminationBloom is result-identical to contamination at any fpp") {
    val evals = Seq(
      (100L, "secret eval question about spark joins"),
      (101L, "another held out benchmark prompt entirely")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "this doc leaks the secret eval question about nothing"),
      (2L, "entirely unrelated words here friend"),
      (3L, "another held out benchmark prompt entirely copied"),
      (4L, "too short")).toDF("doc_id", "text")
    val exact = Curation.contamination(corpus, evals)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // fpp 0.5 floods the prefilter with false positives; the exact
    // verify must still make the result bit-identical — fpp is a cost
    // dial, never a correctness one
    for (fpp <- Seq(0.01, 0.5)) {
      val got = Curation.contaminationBloom(corpus, evals, fpp = fpp)
        .as[(Long, Long, String)].collect().sortBy(_._1)
      assert(got.sameElements(exact), s"fpp=$fpp diverged")
    }
  }

  test("overlapFraction grades permille with an exact drop boundary; short docs keep") {
    val evals = Seq((100L, "secret eval question about spark joins")).toDF("doc_id", "text")
    val corpus = Seq(
      // 10 distinct trigrams, 2 shared ("secret eval question",
      // "eval question about") -> exactly 200 permille: boundary DROPS
      (1L, "u1 u2 u3 u4 u5 u6 u7 secret eval question about end"),
      // 8 distinct trigrams, 1 shared -> 125 permille: keeps
      (2L, "w1 w2 w3 w4 w5 w6 secret eval question end"),
      (3L, "entirely unrelated words here friend"), // 0 permille
      (4L, "too short")                             // < n tokens: 0 shingles
    ).toDF("doc_id", "text")
    val got = Curation.overlapFraction(corpus, evals, n = 3, dropAt = 200)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((10L, 2L, 200L, "drop")))
    assert(got(2L) == ((8L, 1L, 125L, "keep")))
    assert(got(3L) == ((3L, 0L, 0L, "keep")))
    assert(got(4L) == ((0L, 0L, 0L, "keep")))
  }

  test("recallAtK: integer permille per query; queries the approx side missed score zero") {
    val exact  = Seq((1L, 10L), (1L, 11L), (2L, 12L), (2L, 13L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "neighbor_id") // q2 absent
    val got = Similarity.recallAtK(approx, exact, k = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, 500L)))
    assert(got(2L) == ((0L, 0L)))
  }

  test("dedupClustersKeepBest keeps the highest-score member; ties to lowest id") {
    val docs  = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b") // component {1,2,3}; 4 isolated
    val got = Dedup.dedupClustersKeepBest(docs, pairs, "n_chars")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 2L, "drop")))
    assert(got(2L) == ((1L, 2L, "keep"))) // 2 and 3 tie at 9 chars; lowest id
    assert(got(3L) == ((1L, 2L, "drop")))
    assert(got(4L) == ((4L, 4L, "keep"))) // isolated doc is its own keeper
  }

  test("dedupClustersKeepBest with a constant score degenerates to keep-first") {
    val rnd   = new scala.util.Random(7)
    val n     = 60
    val docs  = (1L to n.toLong).map(i => (i, 1L)).toDF("doc_id", "score")
    val pairs = Seq.fill(40)(((rnd.nextInt(n) + 1).toLong, (rnd.nextInt(n) + 1).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val kb = Dedup.dedupClustersKeepBest(docs, pairs, "score")
      .select("doc_id", "component", "verdict")
    val kf = Dedup.dedupClusters(docs.select("doc_id"), pairs)
      .select("doc_id", "component", "verdict")
    assert(kb.except(kf).isEmpty && kf.except(kb).isEmpty)
  }

  test("cross-doc span shares: hand-computed windows, within-doc repeats excluded") {
    val d = Seq(
      (1L, "a b c d e f g"),     // windows(3): abc bcd cde def efg (5)
      (2L, "x a b c d e y"),     // shares abc bcd cde with doc 1 (xab, dey unique)
      (3L, "q r s q r s q r s"), // within-doc repeats ONLY — no cross-doc dup
      (4L, "zz yy")              // shorter than n: zero windows
    ).toDF("doc_id", "text")
    val r = Dedup.crossDocSpans(d, n = 3, trimAt = 500).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_windows"), x.getAs[Long]("dup_window_permille"),
          x.getAs[String]("verdict")))).toMap
    assert(r(1L) == ((5L, 600L, "trim")))  // 3 of 5 shared with doc 2
    assert(r(2L) == ((5L, 600L, "trim")))
    assert(r(3L) == ((7L, 0L, "keep")))    // qrs×3 etc. all same-doc
    assert(r(4L) == ((0L, 0L, "keep")))
  }

  test("shuffleOrder equals the global-sort permutation at any bucket count") {
    // negative AND positive ids: the sign-bit flip must make signed
    // ordering agree with the unsigned hash order on both sides of zero
    val docs = (0L until 500L).map(i => (i * 7 - 1000, s"d$i")).toDF("doc_id", "text")
    val got = Curation.shuffleOrder(docs, seed = 42L, buckets = 8)
      .as[(Long, Long)].collect().toMap
    // a bijection onto [0, N)
    assert(got.values.toSeq.sorted == (0L until 500L))
    // equal to the single-sort definition the oracle states
    val expected = docs.select("doc_id").as[Long].collect()
      .map(id => id -> (Dedup.mix64(id ^ 42L) ^ Long.MinValue))
      .sortBy { case (id, hf) => (hf, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got == expected)
    // bucket count is an execution knob, never a semantics knob
    assert(Curation.shuffleOrder(docs, seed = 42L, buckets = 1)
      .as[(Long, Long)].collect().toMap == expected)
  }

  test("scrubDupSpans keeps only each block's corpus-wide first occurrence") {
    val docs = Seq(
      (1L, "a b c d e f g h"), // all blocks first — untouched
      (2L, "c d a b x y"),     // 'c d' and 'a b' first seen in doc 1
      (3L, "a b a b"),         // scrubbed to nothing
      (4L, "q r q r s")        // within-doc repeat: first kept, tail block kept
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDupSpans(docs, k = 2)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "a b c d e f g h", 2L -> "x y", 3L -> "", 4L -> "q r s"))
  }

  test("capped jaccard equals uncapped on random corpora, both cap regimes") {
    // Metamorphic pin on BOTH dfCap regimes: a cap high enough that no
    // shingle is hot (plan-time probe short-circuits to the plain join)
    // and a cap low enough that many are (hot/cold split + violator
    // recovery engage). The documented contract is cell-exact equality
    // with the uncapped run, unconditionally.
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val vocab = Seq("ka", "ko", "ki", "ku", "ke")
      val corpus = (1L to 30L).map { id =>
        val len = 6 + rnd.nextInt(8)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      def run(cap: Int) = Dedup.jaccardPairs(corpus, n = 2, tau = 0.05, dfCap = cap)
        .as[(Long, Long, Double)].collect().toSet
      val uncapped = run(0)
      assert(uncapped.nonEmpty, s"trial $trial produced no pairs — fixture too sparse")
      assert(run(10000) == uncapped, s"trial $trial: short-circuit cap diverged")
      assert(run(3) == uncapped, s"trial $trial: hot-path cap diverged")
    }
  }

  test("compiled LSH buckets match the HOF expression formulation bit-exactly") {
    // The bucket UDF replaced a nested transform/aggregate/zip_with
    // expression for speed; the arithmetic (sequential double fold over
    // dimensions, MSB-first bit pack) must stay bit-identical or the
    // SQL oracles drift. Re-state the old HOF form here and compare.
    val rnd = new scala.util.Random(31)
    val dim = 16; val bits = 8; val tables = 4
    val emb = (1L to 64L)
      .map(id => (id, Array.fill(dim)((rnd.nextGaussian() * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val planesAll: Seq[Seq[Seq[Double]]] = (0 until tables).map { t =>
      Seq.tabulate(bits)(p => Seq.tabulate(dim)(d => Similarity.planeWeight(t * bits + p, d)))
    }
    val bucketPerTable = transform(typedLit(planesAll), tp =>
      aggregate(
        transform(tp, p =>
          when(aggregate(zip_with(col("embedding"), p, (x, w) => x.cast("double") * w),
            lit(0.0), (acc, v) => acc + v) >= 0, lit(1L)).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc * 2 + b))
    val viaHof = emb.select(col("vec_id"), posexplode(bucketPerTable).as(Seq("table", "bucket")))
      .as[(Long, Int, Long)].collect().toSet
    val viaUdf = (0 until tables).flatMap { t =>
      Similarity.lshBuckets(emb, dim, bits, planeOffset = t * bits)
        .select(col("vec_id"), lit(t).as("table"), col("bucket"))
        .as[(Long, Int, Long)].collect()
    }.toSet
    assert(viaUdf == viaHof)
  }

  test("mixture weights: integer token shares per source") {
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "e f", "s1"), (3L, "g h", "s2")
    ).toDF("doc_id", "text", "source")
    val m = Curation.mixtureWeights(d, col("source"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(m("s1") == (("s1", 2L, 6L, 750L)))
    assert(m("s2") == (("s2", 1L, 2L, 250L)))
  }

  test("mixture weights: all-empty-text corpus yields zero weights, not a divide-by-zero") {
    // r13 edge guard: the in-plan total is 0 when every text tokenizes
    // empty — the `when` must short-circuit the ANSI `div` (the old
    // eager-total code guarded this driver-side)
    val d = Seq((1L, "", "s1"), (2L, "", "s2")).toDF("doc_id", "text", "source")
    val m = Curation.mixtureWeights(d, col("source"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(m("s1") == (("s1", 1L, 0L, 0L)))
    assert(m("s2") == (("s2", 1L, 0L, 0L)))
  }

  test("dsirScoreWithFloor equals the eager-floor composition, bit-for-bit, with OOV present") {
    // r13: the in-plan floor (dsirOovFloorFrame broadcast into the
    // scoring join) must reproduce dsirOovFloor's driver-side Long
    // exactly — same BigDecimal HALF_UP quantization path — including
    // on documents whose vocabulary is entirely out-of-model
    val docs = (1L to 40L).map(i =>
      (i, s"w${i % 5} w${i % 9} u$i", if (i % 4 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    val cnt = Curation.dsirCounts(
      docs.filter(col("doc_id") % 2 === 0), col("lang") === "en")
    val eager = Curation.dsirScoreWith(docs, Curation.dsirModel(cnt),
        oovLr = Some(Curation.dsirOovFloor(cnt)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inPlan = Curation.dsirScoreWithFloor(docs, cnt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inPlan == eager)
    assert(inPlan.nonEmpty)
  }

  test("PII redaction: counts and redacts emails and IPv4s, edge cases match the oracle dialect") {
    val d = Seq(
      (1L, "write to a.b+c@ex-1.org or x@y.co from 10.0.3.7 and 192.168.1.255 done"),
      (2L, "no pii here at all"),
      (3L, "edge 999.1.2.3 v1.2.3.4.5 a@b"),
      (4L, "mail x@1.2.3.44.com now") // IPv4-looking host INSIDE the email
    ).toDF("doc_id", "text")
    val r = Curation.redactPii(d).as[(Long, Int, Int, String)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // expectations verified against DuckDB's RE2 on the same inputs
    assert(r(1L) == ((2, 2, "write to <EMAIL> or <EMAIL> from <IP> and <IP> done")))
    assert(r(2L) == ((0, 0, "no pii here at all")))
    assert(r(3L) == ((0, 2, "edge <IP> v1.<IP> a@b")))
    // the host was consumed by the email redaction — it must NOT also be
    // counted as an IP (counts reconcile with the redacted output)
    assert(r(4L) == ((1, 0, "mail <EMAIL> now")))
  }

  test("sequence packing: metamorphic check against a sequential reference over random corpora") {
    // Seeded random (size, budget, buckets) combos, sparse non-contiguous
    // ids: the distributed prefix-scan must equal a driver-side
    // sequential fold for every one of them.
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val nDocs   = 20 + rnd.nextInt(150)
      val budget  = 5 + rnd.nextInt(40)
      val buckets = 1 + rnd.nextInt(9)
      val ids = scala.collection.mutable.SortedSet.empty[Long]
      while (ids.size < nDocs) ids += rnd.nextInt(10000).toLong
      val docs = ids.toSeq.map(i => (i, Seq.fill(rnd.nextInt(12) + 1)("w").mkString(" ")))
      val counts = docs.map { case (_, t) => t.split(" ").length.toLong }
      val cum = counts.scanLeft(0L)(_ + _)
      val expected = docs.zipWithIndex.map { case ((id, _), i) =>
        (id, counts(i), cum(i) / budget, cum(i) % budget)
      }.toSet
      val got = Curation.packSequences(docs.toDF("doc_id", "text"), budget, buckets)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"trial $trial (n=$nDocs budget=$budget buckets=$buckets)")
    }
  }

  test("sequence packing: hash-derived (negative) doc_ids, incl. full-range extremes") {
    // Half of all 64-bit hash ids are negative; the bucketing must stay
    // monotone in SIGNED doc_id order with no overflow even when the
    // domain spans [Long.MinValue, Long.MaxValue].
    val rnd = new scala.util.Random(11)
    for ((buckets, trial) <- Seq(1, 2, 5, 32).zipWithIndex) {
      val budget = 7 + trial
      val ids = scala.collection.mutable.SortedSet(
        Long.MinValue, Long.MinValue + 1, -1L, 0L, Long.MaxValue)
      while (ids.size < 80) ids += rnd.nextLong()
      val docs = ids.toSeq.map(i => (i, Seq.fill(rnd.nextInt(9) + 1)("w").mkString(" ")))
      val counts = docs.map { case (_, t) => t.split(" ").length.toLong }
      val cum = counts.scanLeft(0L)(_ + _)
      val expected = docs.zipWithIndex.map { case ((id, _), i) =>
        (id, counts(i), cum(i) / budget, cum(i) % budget)
      }.toSet
      val got = Curation.packSequences(docs.toDF("doc_id", "text"), budget, buckets)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"buckets=$buckets budget=$budget")
    }
    // all-negative domain exercises the third signed case on its own
    val negDocs = Seq(-50L, -49L, -3L, -2L, -1L).map(i => (i, "w w w"))
    val negGot = Curation.packSequences(negDocs.toDF("doc_id", "text"), budget = 4, buckets = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val negExp = negDocs.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
      (id, 3L, (i * 3L) / 4, (i * 3L) % 4)
    }.toSet
    assert(negGot == negExp)
  }

  test("sequence packing equals a single-partition running sum, across bucket boundaries") {
    val d = (0L until 97L).map(i => (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // expected: plain cumulative sum in doc_id order
    val counts = (0L until 97L).map(i => (i % 7) + 1)
    val cum = counts.scanLeft(0L)(_ + _)
    val expected = (0L until 97L).map { i =>
      (i, counts(i.toInt), cum(i.toInt) / 10, cum(i.toInt) % 10)
    }.toSet
    // buckets=5 forces several bucket-boundary handoffs
    val got = Curation.packSequences(d, budget = 10, buckets = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("PQ: lossless codebooks reproduce brute-force top-k; duplicate survives ADC shortlist") {
    // Corpus built from exactly 4 distinct subvectors per 2-dim subspace
    // (m=2, k=4, dim=4), with the first 4 vectors covering all 4 values
    // in BOTH subspaces: k-means init lands on the distinct values and
    // Lloyd keeps them (each cluster's mean is its single value), so
    // encoding is LOSSLESS and ADC distance equals true squared L2.
    // no zero subvector: pool(0)++pool(0) would be the zero vector,
    // whose cosine is NaN
    val pool = Seq(
      Array(1f, 0f), Array(0f, 1f), Array(2f, 2f), Array(5f, 3f))
    val vecs = (0 until 40).map { i =>
      (i.toLong, (pool(i % 4) ++ pool((i + i / 4) % 4)).toSeq)
    }
    import spark.implicits._
    val emb = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val pq = Similarity.buildPq(emb, m = 2, k = 4, iters = 2, trainN = 40)
    // codes bounded and identical embeddings get identical codes
    val codes = pq.codes.select("vec_id", "code").as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    assert(codes(0L) == codes(16L)) // vec 16 repeats vec 0's subvectors
    // with shortlist >= corpus, the exact rerank sees everything the
    // brute-force path sees: results must match row-for-row
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val got = Similarity.pqTopK(pq, queries, k = 3, shortlist = 40)
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = Similarity.topK(emb, queries, k = 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want)
    // a planted exact duplicate has ADC distance 0 — it must survive
    // even a tiny shortlist and rerank to rank 1 with cosine 1.0
    val dup = Similarity.pqTopK(pq, emb.filter(col("vec_id") === 0), k = 1, shortlist = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(dup.length == 1 && dup.head._4 == 1.0)
    // IVF-PQ with full probe + full shortlist degenerates to the same
    // exact result: cells partition (not drop) candidates, lossless
    // codes rank them truly, the rerank is exact
    val ivf = Similarity.buildIvf(emb, cells = 4, persist = false)
    val composed = Similarity
      .ivfPqTopK(ivf, pq, queries, k = 3, nprobe = 4, shortlist = 40)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(composed == want)
    // full probe makes IVF-PQ's ADC candidates every code, as pqTopK's
    // are: the two equal row for row at a shortlist below the corpus too
    assert(Similarity.ivfPqTopK(ivf, pq, queries, k = 3, nprobe = 4, shortlist = 5)
      .as[(Long, Int, Long, Double)].collect().toSet ==
      Similarity.pqTopK(pq, queries, k = 3, shortlist = 5)
        .as[(Long, Int, Long, Double)].collect().toSet)
  }

  test("quality gate: rank-defined exact quantile on a planted distribution") {
    // 100 docs with distinct_permille exactly {250: 30 docs, 500: 30,
    // 750: 40}: "w" repeated k times with d distinct tokens gives
    // floor(d*1000/k). 1/4 -> 250 (4 tokens 1 distinct), 1/2 -> 500,
    // 3/4 -> 750. Rank ceil(250*100/1000) = 25th smallest = 250 ->
    // threshold 250 keeps ALL docs. At qPermille=310 the rank is
    // EXACTLY 31 (integer arithmetic — the float 0.31*100 rounds to
    // 31.000000000000004, whose ceil would be the wrong rank 32; both
    // land on value 500 here, but the integer contract is what the
    // doc comment promises): threshold 500 drops the 30 250-docs.
    // Both ends pin the rank definition, not just the filter. A
    // zero-token doc must be excluded, not NULL-sorted into the ranks.
    def doc(i: Long, distinct: Int, total: Int): (Long, String) =
      (i, ((0 until distinct).map(d => s"t$d") ++ Seq.fill(total - distinct)("t0"))
        .mkString(" "))
    val docs = ((0L until 30L).map(doc(_, 1, 4)) ++
      (30L until 60L).map(doc(_, 2, 4)) ++
      (60L until 100L).map(doc(_, 3, 4)) :+ (100L, "  ")).toDF("doc_id", "text")
    val all = Curation.qualityGate(docs, qPermille = 250)
      .as[(Long, Long, Long)].collect()
    assert(all.length == 100 && all.forall(_._3 == 250L))
    assert(!all.exists(_._1 == 100L)) // the zero-token doc is excluded
    val gated = Curation.qualityGate(docs, qPermille = 310)
      .as[(Long, Long, Long)].collect()
    assert(gated.length == 70 && gated.forall(r => r._2 >= 500L && r._3 == 500L))
  }

  test("tokenBudget equals a per-source sequential fill in hash order, across bucket counts") {
    // doc i has (i % 7) + 1 tokens; two sources of very different sizes.
    // The reference implementation is the obvious sequential rule: sort
    // each source by (mix64(id ^ salt) unsigned, id), keep while the
    // inclusive running token total stays within budget.
    val docs = (0L until 300L).map { i =>
      (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" "),
        if (i < 250) "big" else "small")
    }.toDF("doc_id", "text", "source")
    val budget = 120L
    val expected = (0L until 300L).map { i =>
      (i, if (i < 250) "big" else "small", (i % 7) + 1)
    }.groupBy(_._2).flatMap { case (_, rows) =>
      val ordered = rows.sortBy { case (id, _, _) =>
        (graft.pipeline.Dedup.mix64(id ^ Curation.TokenBudgetSalt) ^ Long.MinValue, id)
      }
      val cums = ordered.scanLeft(0L)((acc, r) => acc + r._3).tail
      ordered.lazyZip(cums).map((r, c) => r._1 -> (c <= budget))
    }
    for (buckets <- Seq(1, 8, 1024)) {
      val got = Curation.tokenBudget(docs, budget, buckets = buckets)
        .select("doc_id", "verdict").as[(Long, String)].collect()
        .map { case (id, v) => id -> (v == "keep") }.toMap
      assert(got == expected.toMap, s"buckets=$buckets")
    }
    // every doc is reported exactly once with its token count
    val full = Curation.tokenBudget(docs, budget)
      .as[(Long, String, Long, String)].collect()
    assert(full.length == 300 && full.forall(r => r._3 == (r._1 % 7) + 1))
    // kept token totals stay within budget per source (and are non-zero)
    val keptTok = full.filter(_._4 == "keep").groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(keptTok.values.forall(t => t > 0 && t <= budget), keptTok.toMap.toString)
    // degenerate budgets
    assert(Curation.tokenBudget(docs, 0L).filter(col("verdict") === "keep").count() == 0L)
    assert(Curation.tokenBudget(docs, 1000000L)
      .filter(col("verdict") === "keep").count() == 300L)
  }

  test("temperatureSample: sqrt-weighted quotas flatten skew; deterministic; exact arithmetic") {
    // head source: 360 docs × 16 tokens; tail: 40 docs × 4 tokens.
    // Proportional-by-tokens would give the tail 40/(360·16+40·4)·target
    // ≈ 2.7% of the target; sqrt weighting lifts it to
    // isqrt(160)/(isqrt(5760)+isqrt(160)) = 12/(75+12) ≈ 13.8%.
    val docs = ((0L until 360L).map(i => (i, Seq.fill(16)("w").mkString(" "), "head")) ++
      (360L until 400L).map(i => (i, "a b c d", "tail")))
      .toDF("doc_id", "text", "source")
    val kept = Curation.temperatureSample(docs, targetDocs = 100L)
      .as[(Long, String)].collect()
    // determinism (same salt ⇒ same selection) and subset-of-input
    val again = Curation.temperatureSample(docs, targetDocs = 100L)
      .as[(Long, String)].collect()
    assert(kept.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    assert(kept.forall(_._1 < 400L))
    // the exact quota arithmetic the Scaladoc promises:
    // W = 75 + 12 = 87; head quota = 100·75/87 = 86 → 86·1000/360 = 238‰
    // tail quota = 100·12/87 = 13 → 13·1000/40 = 325‰ — the tail's keep
    // RATE exceeds the head's (the rebalancing this operator is for),
    // and each realized count is a Binomial(n, p) draw around n·p.
    val bysrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    val headKept = bysrc.getOrElse("head", 0)
    val tailKept = bysrc.getOrElse("tail", 0)
    assert(math.abs(headKept - 360 * 0.238) < 30, s"head kept $headKept")
    assert(math.abs(tailKept - 40 * 0.325) < 12, s"tail kept $tailKept")
    // repartitioning the input must not change the selection (hash gate,
    // not task placement)
    val shuffled = Curation.temperatureSample(docs.repartition(7), targetDocs = 100L)
      .as[(Long, String)].collect()
    assert(shuffled.sortBy(_._1).toSeq == kept.sortBy(_._1).toSeq)
    // degenerate targets: 0 keeps nothing; a target beyond the corpus
    // caps every source at 1000‰ (keeps everything)
    assert(Curation.temperatureSample(docs, 0L).count() == 0L)
    assert(Curation.temperatureSample(docs, 1000000L).count() == 400L)
  }

  test("nbClassify: separable vocabularies classify correctly; shared tokens don't flip") {
    val train = Seq(
      (1L, "aa aa bb", "en"), (2L, "aa bb bb", "en"),
      (3L, "xx xx yy", "fr"), (4L, "xx yy yy", "fr")).toDF("doc_id", "text", "lang")
    val test = Seq(
      (10L, "aa bb aa", "en"),   // pure en vocabulary
      (11L, "yy xx", "fr"),      // pure fr vocabulary
      (12L, "aa aa aa xx", "en") // majority en tokens
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.nbClassify(train, test).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted")).toMap
    assert(out == Map(10L -> "en", 11L -> "fr", 12L -> "en"))
  }

  test("nbClassify: broadcastModel=false (the past-threshold size dial) scores identically through a shuffled model join") {
    val train = Seq(
      (1L, "aa aa bb", "en"), (2L, "aa bb bb", "en"),
      (3L, "xx xx yy", "fr"), (4L, "xx yy yy", "fr")).toDF("doc_id", "text", "lang")
    val test = Seq(
      (10L, "aa bb aa", "en"), (11L, "yy xx", "fr"), (12L, "aa aa aa xx", "en"))
      .toDF("doc_id", "text", "lang")
    val hinted   = TextAnalysis.nbClassify(train, test).collect().map(_.toSeq).toSeq
    val shuffled = TextAnalysis.nbClassify(train, test, broadcastModel = false)
      .collect().map(_.toSeq).toSeq
    assert(hinted == shuffled)
  }

  test("nbClassify: unseen test tokens are dropped; all-unseen doc yields no row") {
    val train = Seq((1L, "aa bb", "en"), (2L, "xx yy", "fr")).toDF("doc_id", "text", "lang")
    val test = Seq(
      (10L, "aa zz zz", "en"), // zz unseen → only aa scores
      (11L, "qq zz", "fr"))    // nothing seen → no row
      .toDF("doc_id", "text", "lang")
    val rows = TextAnalysis.nbClassify(train, test).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L))
    assert(rows.head.getAs[String]("predicted") == "en")
  }

  test("nbClassify: quantized integer scores are invariant to partitioning") {
    val docs = (1L to 200L).map { i =>
      val lang = if (i % 2 == 0) "en" else "fr"
      val text = if (i % 2 == 0) s"aa bb cc dd ee aa bb ${"aa " * (i % 3).toInt}".trim
                 else s"xx yy zz aa ww xx ${"yy " * (i % 3).toInt}".trim
      (i, text, lang)
    }.toDF("doc_id", "text", "lang")
    val train = docs.filter($"doc_id" % 5 =!= 0)
    val test = docs.filter($"doc_id" % 5 === 0)
    val a = TextAnalysis.nbClassify(train.repartition(1), test.repartition(1))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    val b = TextAnalysis.nbClassify(train.repartition(17), test.repartition(13))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("manifest: signature is partition-order invariant, and moves on membership/size drift") {
    def corpus(rows: Seq[(Long, String)]) =
      rows.map { case (id, text) => (id, text, "en", "s1", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = (1L to 120L).map(i => (i, s"doc $i ${"w " * (i % 7).toInt}".trim))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Curation.manifest(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    val m1 = sigs(corpus(base).repartition(1))
    // the modular sum is commutative/associative — any partitioning and
    // any row order yield the identical manifest
    assert(sigs(corpus(new scala.util.Random(7).shuffle(base)).repartition(13)) == m1)
    assert(m1.map(_._1) == Seq("test", "train", "val")) // one row per split
    // dropping a doc moves its split's signature AND counts
    val dropped = sigs(corpus(base.filterNot(_._1 == 7L)))
    assert(dropped != m1)
    // same membership, one doc's length changed → counts of docs equal,
    // signature differs (size drift is visible)
    val grown = sigs(corpus(base.map { case (id, t) =>
      if (id == 7L) (id, t + " extra") else (id, t) }))
    assert(grown.map(x => (x._1, x._2)) == m1.map(x => (x._1, x._2)))
    assert(grown != m1)
  }

  test("chunking: windows tile the token stream; sizes, ids and overlap match the contract") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // many windows
      (2L, "a b c"),                                   // single short window
      (3L, ""),                                        // zero tokens -> no rows
      (4L, (1 to 24).map(i => s"u$i").mkString(" ")))  // exactly one stride
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, chunkSize = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    assert(!out.contains(3L))
    assert(out(2L).toSeq == Seq((2L, 0, 3, "a b c")))
    assert(out(4L).toSeq == Seq((4L, 0, 24, (1 to 24).map(i => s"u$i").mkString(" "))))
    // doc 1: starts 0,24,48,72,96 -> sizes 32,32,32,28,4; chunk c starts
    // at token 24c+1 and overlaps the previous window by 8 tokens
    val d1 = out(1L).toSeq.sortBy(_._2)
    assert(d1.map(_._2) == Seq(0, 1, 2, 3, 4))
    assert(d1.map(_._3) == Seq(32, 32, 32, 28, 4))
    d1.foreach { case (_, c, n, chunk) =>
      assert(chunk == (24 * c + 1 to math.min(24 * c + 32, 100))
        .map(i => s"t$i").mkString(" "))
      assert(chunk.split(" ").length == n)
    }
  }

  test("dsir: target-like documents outscore off-target ones; score is partition-invariant") {
    // target = lang 'en'; 'alpha beta' dominate the target distribution,
    // 'gamma delta' the raw remainder — a doc of target tokens must score
    // strictly above a doc of off-target tokens of equal length
    val docs = (
      (1L to 20L).map(i => (i, "alpha beta alpha", "en")) ++
      (21L to 40L).map(i => (i, "gamma delta gamma", "xx")) ++
      Seq((41L, "alpha beta alpha", "xx"), (42L, "gamma delta gamma", "en")))
      .toDF("doc_id", "text", "lang")
    def scores(df: org.apache.spark.sql.DataFrame) =
      Curation.dsirScore(df, col("lang") === "en")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val s1 = scores(docs.repartition(1))
    assert(s1(41L) > s1(21L)) // same text as targets beats off-target text
    assert(s1(1L) == s1(41L)) // score depends on tokens, not the label
    assert(scores(docs.repartition(17)) == s1) // quantized integer fold
  }

  test("dsir OOV contract: default drops unseen tokens from score AND n_tokens; oovLr counts them at the floor") {
    // fixed model: only 'alpha' (lr=+3) and 'beta' (lr=-2) are known
    val model = Seq(("alpha", 3L), ("beta", -2L)).toDF("token", "lr")
    val docs = Seq(
      (1L, "alpha beta alpha zzz qqq"), // 3 in-model + 2 OOV occurrences
      (2L, "zzz qqq zzz")               // all OOV
    ).toDF("doc_id", "text")
    // default (drop): doc 1 counts only its 3 in-model occurrences,
    // an all-OOV doc vanishes entirely — the documented batch contract
    val drop = Curation.dsirScoreWith(docs, model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(drop(1L) == ((3L, 3L + 3L - 2L)))
    assert(!drop.contains(2L))
    // oovLr = Some(floor): every occurrence counts, OOV at the fixed
    // quantized ratio — the live-serving shape where incoming batches
    // carry vocabulary the current model has not seen
    val smoothed = Curation.dsirScoreWith(docs, model, oovLr = Some(-10L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(smoothed(1L) == ((5L, 3L + 3L - 2L + 2L * -10L)))
    assert(smoothed(2L) == ((3L, 3L * -10L)))
  }

  test("dsir: broadcastModel=false (the size dial) scores identically through a shuffled join") {
    val docs = (1L to 60L).map(i =>
      (i, s"w${i % 7} w${i % 11} w${i % 13}", if (i % 3 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    def run(b: Boolean) =
      Curation.dsirScore(docs, col("lang") === "en", broadcastModel = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(run(true) == run(false) && run(true).nonEmpty)
  }

  test("entropy: degenerate docs score zero, uniform docs score n*ln(n) micro-nats, partition-invariant") {
    val docs = Seq(
      (1L, "x x x x x x"),             // degenerate: ln(1) = 0
      (2L, "a b c d"),                 // uniform over 4 distinct
      (3L, ""),                        // no tokens -> absent
      (4L, "a a b b")                  // two tokens, two each
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.entropy(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = run(docs)
    assert(!e.contains(3L))
    assert(e(1L) == ((6L, 0L)))
    // uniform over k distinct of n: -k * round(1 * ln(1/k) * 1e6)
    def q(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(e(2L) == ((4L, -4L * q(math.log(1.0 / 4) * 1000000))))
    assert(e(4L) == ((4L, -2L * q(2 * math.log(2.0 / 4) * 1000000))))
    assert(run(docs.repartition(7)) == e)
  }

  test("weightedSample: weight-proportional inclusion, zero-weight exclusion, partition invariance") {
    // 500 heavy docs (w=1000) and 500 light (w=10) competing for 300
    // slots: E-S inclusion is weight-biased, so heavies must dominate;
    // a zero-weight doc can never appear
    val docs = ((1L to 500L).map(i => (i, 1000L)) ++
      (501L to 1000L).map(i => (i, 10L)) ++ Seq((1001L, 0L)))
      .toDF("doc_id", "n_chars")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.weightedSample(df, col("n_chars"), n = 300)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val s1 = run(docs.repartition(1))
    assert(run(docs.repartition(17)).toSet == s1.toSet)
    assert(s1.size == 300 && !s1.exists(_._1 == 1001L))
    val heavies = s1.count(_._2 == 1000L)
    // heavies win ~1000/(1000+10) of head-to-head contests; with 500 of
    // each competing for 300 slots the heavy share is overwhelmingly
    // >200 (a uniform sampler would give ~150)
    assert(heavies > 200, s"expected weight bias, got $heavies/300 heavy")
    // the key ranking is the quantized E-S order: spot-check one doc
    val u = ((graft.pipeline.Dedup.mix64(1L) >>> 11) + 1).toDouble / 9007199254740992.0
    val expect = BigDecimal(math.log(u) / 1000.0 * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(s1.find(_._1 == 1L).forall(_._3 == expect))
  }

  test("mmr: a redundant near-duplicate of the top hit is demoted from its cosine rank") {
    // query along e0; by COSINE the near-duplicate of the top hit is
    // rank 2 — MMR demotes it: its max-sim-to-selected (~1.0) makes its
    // marginal score ~0.5·(rel − 1) < 0, so the orthogonal candidate
    // (marginal score 0) takes rank 2 instead.
    def v(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(8)(0f); parts.foreach { case (i, x) => a(i) = x }; a.toSeq
    }
    val emb = Seq(
      (0L, v(0 -> 1f)),                      // the query
      (1L, v(0 -> 1f, 1 -> 0.01f)),          // top hit
      (2L, v(0 -> 1f, 1 -> 0.02f)),          // its near-duplicate (cosine rank 2)
      (3L, v(0 -> 0.8f, 1 -> 0.8f)),         // diagonal, lower relevance
      (4L, v(2 -> 1f))                       // orthogonal
    ).toDF("vec_id", "embedding")
    // cosine order would be 1, 2, 3, 4
    val byCos = Similarity.topK(emb, emb.filter(col("vec_id") === 0), k = 2)
      .collect().map(_.getLong(2)).toSeq
    assert(byCos == Seq(1L, 2L))
    val out = Similarity.mmrTopK(emb, emb.filter(col("vec_id") === 0),
        k = 2, pool = 4)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L, 4L), s"expected duplicate demoted at rank 2: $out")
    // deterministic across partitionings, full pool ordering
    def full(df: org.apache.spark.sql.DataFrame) =
      Similarity.mmrTopK(df, emb.filter(col("vec_id") === 0), k = 4, pool = 4)
        .orderBy("rank")
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(4))).toSeq
    val f1 = full(emb.repartition(1))
    assert(full(emb.repartition(13)) == f1)
    assert(f1.head._2 == 1L && f1.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("mmr at lambda=1 degenerates to plain cosine top-k on a random corpus") {
    // with the diversity term weighted zero, every greedy step is the
    // plain (rel DESC, nid) argmax — the MMR order must equal topK's
    val emb = (0L to 79L).map { i =>
      (i, Array.tabulate(16)(d =>
        (graft.pipeline.Dedup.mix64(i * 16 + d) % 97).toFloat / 97f).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 20 === 0)
    val mmr = Similarity.mmrTopK(emb, qs, k = 5, pool = 10, lam = 1.0)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    val top = Similarity.topK(emb, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(mmr.toSeq == top.toSeq)
  }

  test("IVF-pooled MMR: full probe equals brute mmrTopK; partial probe stays k-deep; allowed composes") {
    val emb = (0L to 79L).map { i =>
      (i, Array.tabulate(16)(d =>
        (graft.pipeline.Dedup.mix64(i * 16 + d) % 97).toFloat / 97f).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 20 === 0)
    val ivf = Similarity.buildIvf(emb, cells = 4)
    // nprobe = cells removes the recall approximation: the IVF pool is
    // the brute pool, so the greedy must emit row-identical results —
    // the rangeSearchWith equality discipline applied to MMR
    val got = Similarity.mmrTopKWith(ivf, qs, k = 4, pool = 8, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.mmrTopK(emb, qs, k = 4, pool = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // partial probe: per-query output is still rank-contiguous from 1
    // (80 vectors over 4 trained cells ⇒ every probed cell holds ≥ k
    // candidates), pooled only from the probed cells
    val partial = Similarity.mmrTopKWith(ivf, qs, k = 4, pool = 8, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(partial.nonEmpty &&
      partial.groupBy(_._1).forall { case (_, rs) =>
        rs.map(_._2).sorted.toSeq == (1 to rs.size).toSeq
      })
    // filtered-ANN pre-filter composes: neighbors ⊆ allowed
    val restricted = Similarity.mmrTopKWith(ivf, qs, k = 2, pool = 4, nprobe = 4,
        allowed = Some(emb.filter(col("vec_id") % 2 === 0)))
      .select("neighbor_id").as[Long].collect()
    assert(restricted.nonEmpty && restricted.forall(_ % 2 == 0))
  }

  test("random projection: components are the planeWeight dots, and rpTopK ranks in projected space") {
    val emb = (0L to 49L).map { i =>
      (i, Array.tabulate(64)(d => (graft.pipeline.Dedup.mix64(i * 64 + d) % 100).toFloat / 100f).toSeq)
    }.toDF("vec_id", "embedding")
    val rp = Similarity.randomProject(emb, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(rp.values.forall(_.size == 16))
    // hand-fold component 3 of vector 7 against the same planes (the
    // float values are constructed EXACTLY as the DataFrame's)
    val v7 = (0 until 64).map(d =>
      (graft.pipeline.Dedup.mix64(7L * 64 + d) % 100).toFloat / 100f)
    val expect = (0 until 64).foldLeft(0.0) { (s, d) =>
      s + v7(d).toDouble *
        Similarity.planeWeight(Similarity.RpPlaneOffset + 3, d)
    }
    assert(rp(7L)(3) == expect)
    // rpTopK is deterministic across partitionings and self-consistent:
    // the projected cosine of rank 1 >= rank 2 per query
    val q = emb.filter(col("vec_id") % 10 === 0)
    def top(df: org.apache.spark.sql.DataFrame) =
      Similarity.rpTopK(df, q, k = 3, dim = 64)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).sortBy(x => (x._1, x._2)).toSeq
    val t1 = top(emb.repartition(1))
    assert(top(emb.repartition(13)) == t1)
    t1.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank == byRank.sorted.reverse)
    }
  }
  test("dsirOovFloor rejects an empty count table with a clear error, not an NPE") {
    val empty = Seq.empty[(String, Long, Long)].toDF("token", "cr", "ct")
    val e = intercept[IllegalStateException](Curation.dsirOovFloor(empty))
    assert(e.getMessage.contains("empty count table"))
  }
}
