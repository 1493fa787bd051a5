package graft.query

import graft.SparkSuite
import graft.ingest.IndexBuilder

import org.apache.spark.sql.functions._

/** Count-only serving (`countDocs`). The fast path answers pure
  * boolean-over-exact-EQ queries from plan-time postings alone; the
  * contract pinned here is (a) it NEVER disagrees with the residual-
  * verified `run` path, (b) it engages exactly on the shapes it claims
  * (and declines on lossy postings, scans, proximity), and (c) a warm
  * fast count runs ZERO Spark jobs — the index-only economics the
  * method exists for.
  */
class CountServingSpec extends SparkSuite {
  import spark.implicits._

  // 90 of 100 docs contain 'hot' — over MAX=20 per (term, partition,
  // language) even split across 2 partitions × 2 languages, so its
  // posting rows are lossy; 'rare'/'tiny' stay exact; two languages
  // exercise the auth path.
  private lazy val docs = (0 until 100).map { i =>
    val words = Seq.newBuilder[String]
    words += s"w$i"
    if (i < 90) words += "hot"
    if (i % 8 == 0) words += "rare"
    if (i % 13 == 0) words += "tiny"
    (i.toLong, words.result().mkString(" "),
      if (i % 4 == 0) "de" else "en", s"src${i % 3}", 100L + i)
  }.toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val ix = IndexBuilder.fromDocumentsTable(spark, docs, numPartitions = 2).cacheAll()

  private lazy val eng = new WikiSearchEngine(spark, ix)

  private def cnt(df: org.apache.spark.sql.DataFrame): Long =
    df.collect().map(r => (r.getLong(0))).head

  test("fast path engages on boolean-over-exact-EQ and matches run().count()") {
    val fastShapes = Seq(
      "TEXT == 'rare'",
      "TEXT == 'rare' and TEXT == 'tiny'",
      "TEXT == 'rare' or TEXT == 'tiny'",
      "(TEXT == 'rare' or ID == 3) and ID != 8",
      "SOURCE == 'src0' and TEXT == 'rare'",
      "TEXT == 'zzz-absent'")
    for (q <- fastShapes) {
      val fast = eng.fastCount(q)
      assert(fast.isDefined, s"expected fast path for: $q")
      assert(fast.get == eng.run(q).count(), s"fast != run for: $q")
      assert(cnt(eng.countDocs(q)) == fast.get, q)
    }
  }

  test("fast path declines on lossy/scan/proximity shapes; fallback still agrees") {
    val slowShapes = Seq(
      "TEXT == 'hot'",                     // lossy posting row
      "TEXT == 'hot' and TEXT == 'rare'",  // lossy branch in an AND
      "TEXT == 'rare' and TEXT != 'hot'",  // lossy NEGATED postings
      "TEXT =~ 'ra.*'",                    // range/wildcard scan leaf
      "NCHARS >= 100 and NCHARS <= 105",   // bounded range scan
      "f:near(TEXT, 'rare', 'tiny', 9)")   // index-enforced proximity
    for (q <- slowShapes) {
      assert(eng.fastCount(q).isEmpty, s"expected fallback for: $q")
      assert(cnt(eng.countDocs(q)) == eng.run(q).count(), s"countDocs != run for: $q")
    }
  }

  test("fast path declines an all-negative AND branch under OR (pre-existing overcount shape)") {
    // `a or (x != p and y != q)`: the inner And has no positive conjunct,
    // so analyze() cannot index-answer it and the enclosing plan would
    // drop the branch into a candidate superset — sound for run(),
    // an overcount for an index-only count. exactCountable must reject
    // ALL-negative branches under OR, not just direct NE terms.
    val q = "TEXT == 'rare' or (TEXT != 'tiny' and TEXT != 'rare')"
    assert(eng.fastCount(q).isEmpty, "all-negative OR branch must decline")
    assert(cnt(eng.countDocs(q)) == eng.run(q).count(), "fallback stays exact")
    // a MIXED branch (positive + NE) anti-joins inside the branch and
    // stays fast-countable
    val mixed = "TEXT == 'rare' or (TEXT == 'tiny' and TEXT != 'rare')"
    val fast = eng.fastCount(mixed)
    assert(fast.isDefined, "mixed positive+NE branch stays countable")
    assert(fast.get == eng.run(mixed).count())
  }

  test("fast path respects auths (language visibility)") {
    for (auths <- Seq(Seq("en"), Seq("de"), Seq("en", "de"))) {
      val fast = eng.fastCount("TEXT == 'rare'", auths)
      assert(fast.isDefined)
      assert(fast.get == eng.run("TEXT == 'rare'", auths).count(), auths.toString)
    }
    // rare docs (i % 8 == 0, i < 100) are all i % 4 == 0 ⇒ all 'de'
    assert(eng.fastCount("TEXT == 'rare'", Seq("de")).get == 13L)
    assert(eng.fastCount("TEXT == 'rare'", Seq("en")).get == 0L)
  }

  test("warm fast count runs zero Spark jobs") {
    val sc = spark.sparkContext
    eng.fastCount("TEXT == 'rare' and TEXT == 'tiny'") // warm the term cache
    sc.setJobGroup("count-serving-warm", "warm fast count must be job-free")
    try {
      val n = eng.fastCount("TEXT == 'rare' and TEXT == 'tiny'")
      assert(n.isDefined)
      assert(sc.statusTracker.getJobIdsForGroup("count-serving-warm").isEmpty,
        "warm fast count submitted Spark jobs")
    } finally sc.clearJobGroup()
  }

  test("a fallback count plans once: it submits exactly the jobs of one counted run") {
    // a bare lossy term: the uncached bare-term field lookup and the
    // plan-time postings job are plan work, so any re-planning pass
    // shows up as extra jobs. Fresh engines keep both sides cold.
    val sc = spark.sparkContext
    def jobsOf[T](group: String)(body: => T): (T, Int) = {
      sc.setJobGroup(group, "count planning passes")
      val out = try body finally sc.clearJobGroup()
      // the status tracker fills from the listener bus asynchronously but
      // in order: once a later marker job is visible, so is every job of
      // `group`
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    val q = "hot"
    val (_, runJobs) = jobsOf("count-plan-once-run") {
      new WikiSearchEngine(spark, ix).run(q).agg(count(lit(1))).collect()
    }
    val (body, countJobs) = jobsOf("count-plan-once-count") {
      new graft.api.QueryService(new WikiSearchEngine(spark, ix)).count(q)
    }
    assert(body == s"""{"count":${eng.run(q).count()},"fast":false}""", body)
    assert(countJobs == runJobs, s"fallback /count ran $countJobs jobs, a counted run $runJobs")
  }

  test("countDocs schema is one BIGINT cnt row on both paths") {
    for (q <- Seq("TEXT == 'rare'", "TEXT == 'hot'")) {
      val df = eng.countDocs(q)
      assert(df.schema.map(f => (f.name, f.dataType.typeName)) == Seq(("cnt", "long")))
      assert(df.count() == 1L)
    }
  }

  test("fast count on a live store is tombstone-aware through delete-then-reingest") {
    // The zero-job path counts from plan-time EXACT postings and never
    // touches the event store — so the fold-scope uid drop
    // (LiveEngineMaintainer.foldGlobal) is the ONLY thing standing
    // between it and counting deleted docs. Pin the version-ordering
    // rule on this path specifically: delete doc 1 (count drops), then
    // RE-ingest it in a later batch (count restores — the tombstone
    // must not outlive the later ingest).
    import graft.streaming.LiveEngineMaintainer
    def doc(id: Long, text: String) = (id, text, "en", "s1", text.length.toLong)
    val dir = java.nio.file.Files.createTempDirectory("graft-live-count").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    m.processBatch(Seq(doc(1L, "alpha beta"), doc(2L, "alpha gamma"))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    def engNow = new WikiSearchEngine(spark, m.latestIndex.get)
    val before = engNow.fastCount("TEXT == 'alpha'")
    assert(before.contains(2L), s"pre-delete fast count: $before")
    m.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 1L)
    val deleted = engNow.fastCount("TEXT == 'alpha'")
    assert(deleted.contains(1L), s"post-delete fast count: $deleted")
    m.processBatch(Seq(doc(1L, "alpha zeta"))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 2L)
    val resurrected = engNow.fastCount("TEXT == 'alpha'")
    assert(resurrected.contains(2L), s"post-reingest fast count: $resurrected")
    // and the fast path still agrees with the residual-verified run path
    assert(engNow.run("TEXT == 'alpha'").count() == 2L)
  }
}
