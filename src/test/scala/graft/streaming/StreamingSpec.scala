package graft.streaming

import java.sql.Timestamp

import graft.SparkSuite
import graft.functions.UidList

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("hourlyCounts: windowed aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
      assert(rows.length == 2)
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[Long]("n") == 2 && click.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("sessionize: gap-based sessions via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      input.addData(
        EventStreams.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 7, "click", 1.0),
        EventStreams.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 7, "click", 1.0),
        // > 30 min gap → new session
        EventStreams.Event(3, Timestamp.valueOf("2024-01-01 11:00:00"), 7, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
      // one closed session (2 events) + one open session (1 event)
      assert(rows.exists(r => r.getAs[Boolean]("closed") && r.getAs[Long]("n_events") == 2))
      assert(rows.exists(r => !r.getAs[Boolean]("closed") && r.getAs[Long]("n_events") == 1))
    } finally q.stop()
  }

  test("intervalJoin attributes left events within the window before each right event") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Timestamp, String, Long)]
    val purchases = MemoryStream[(Long, Timestamp, String, Long)]
    val cols = Seq("user_id", "ts", "event_type", "event_id")
    val q = EventStreams.intervalJoin(
      clicks.toDF().toDF(cols: _*), purchases.toDF().toDF(cols: _*),
      windowMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      clicks.addData(
        (7L, Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1L), // in window
        (7L, Timestamp.valueOf("2024-01-01 09:00:00"), "click", 2L), // too old
        (8L, Timestamp.valueOf("2024-01-01 10:10:00"), "click", 3L)) // other user
      purchases.addData(
        (7L, Timestamp.valueOf("2024-01-01 10:20:00"), "purchase", 10L))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("user_id") == 7L &&
        r.getAs[Long]("l_id") == 1L && r.getAs[Long]("r_id") == 10L)
      // a click AFTER the purchase never attributes to it
      clicks.addData((7L, Timestamp.valueOf("2024-01-01 10:30:00"), "click", 4L))
      q.processAllAvailable()
      assert(spark.table("attrib").count() == 1)
    } finally q.stop()
  }

  test("dedupStream drops within-watermark duplicate content, keeps first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupStream(docs, "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "same content"),
        (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "same content"), // dup within watermark
        (3L, Timestamp.valueOf("2024-01-01 10:02:00"), "other content"))
      q.processAllAvailable()
      // a later micro-batch with another duplicate, still inside the horizon
      input.addData((4L, Timestamp.valueOf("2024-01-01 10:05:00"), "same content"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L)) // first arrivals only, across micro-batches
    } finally q.stop()
  }

  test("text scoring ops run unchanged under Structured Streaming and match the batch result") {
    // The TextAnalysis scorers are narrow stateless projections, so the
    // same code path must run under readStream (score-on-ingest at
    // scale) — append mode, no watermark, no state store. Each scorer
    // is its own streaming query: joining two streams derived from one
    // source would plan a STATEFUL stream-stream join (unbounded state
    // without a watermark) — at scale you compose scorers in a single
    // projection or join against the sink, never stream-to-stream.
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.TextAnalysis
    val rows = Seq(
      (1L, "spam spam spam spam"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "x y x y x y"))
    val input = MemoryStream[(Long, String)]
    val docs  = input.toDF().toDF("doc_id", "text")
    val qRep = TextAnalysis.repetition(docs)
      .writeStream.format("memory").queryName("rep_stream").outputMode("append").start()
    val qQual = TextAnalysis.quality(docs)
      .writeStream.format("memory").queryName("qual_stream").outputMode("append").start()
    try {
      input.addData(rows: _*)
      qRep.processAllAvailable(); qQual.processAllAvailable()
      val batchDocs = rows.toDF("doc_id", "text")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"))
      val repStreamed = spark.table("rep_stream").collect()
        .map(r => (key(r), r.getAs[Long]("top_bigram_permille"))).toSet
      val repBatch = TextAnalysis.repetition(batchDocs).collect()
        .map(r => (key(r), r.getAs[Long]("top_bigram_permille"))).toSet
      assert(repStreamed == repBatch && repStreamed.size == 3)
      val qualStreamed = spark.table("qual_stream").collect().map(key).toSet
      val qualBatch    = TextAnalysis.quality(batchDocs).collect().map(key).toSet
      assert(qualStreamed == qualBatch && qualStreamed.size == 3)
    } finally { qRep.stop(); qQual.stop() }
  }

  test("foreachBatch maintains the global index incrementally across micro-batches") {
    import graft.ingest.IndexBuilder
    import org.apache.spark.sql.DataFrame

    def postingRows(df: DataFrame): DataFrame =
      df.select(
        explode(split(col("text"), " ")).as("fieldValue"),
        lit("TEXT").as("fieldName"),
        lit(0).as("partition"),
        lit("en").as("language"),
        col("doc_id").cast("string").as("docId"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    var base: Option[DataFrame] = None
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = IndexBuilder.buildGlobalIndex(postingRows(batch))
        val next  = base.fold(delta)(b => IncrementalIndex.merge(b, delta)).cache()
        next.count() // materialize within the batch
        base = Some(next)
        ()
      }
      .start()
    try {
      input.addData((1L, "alpha beta"), (2L, "alpha"))
      q.processAllAvailable()
      input.addData((3L, "beta gamma"))
      q.processAllAvailable()
    } finally q.stop()

    val allDocs = Seq((1L, "alpha beta"), (2L, "alpha"), (3L, "beta gamma")).toDF("doc_id", "text")
    val full = IndexBuilder.buildGlobalIndex(postingRows(allDocs))
    def canon(df: DataFrame) = df
      .select(col("fieldValue"), col("count"), array_sort(col("uids")).as("uids"), col("ignore"))
      .collect().map(_.toString).sorted.toSeq
    assert(canon(base.get) == canon(full))
  }

  test("LiveIndexMaintainer: delta-only writes, merge-on-read equals a from-scratch batch build") {
    implicit val sqlCtx = spark.sqlContext
    val dir  = java.nio.file.Files.createTempDirectory("graft-live-index").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-live-ckpt").toString
    // documents-table schema: (doc_id, text, lang, source, n_chars)
    val input = MemoryStream[(Long, String, String, String, Int)]
    val docsStream = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val maintainer = new LiveIndexMaintainer(spark, dir, numPartitions = 2)
    val q = maintainer.attach(docsStream, ckpt)
    val d1 = (1L, "alpha beta gamma", "en", "s1", 16)
    val d2 = (2L, "alpha delta", "en", "s1", 11)
    val d3 = (3L, "beta beta epsilon", "de", "s2", 17)
    val d4 = (4L, "alpha epsilon", "en", "s1", 13)
    try {
      input.addData(d1, d2)
      q.processAllAvailable()
      assert(maintainer.latestVersion == 0L)
      input.addData(d3)
      q.processAllAvailable()
      input.addData(d4)
      q.processAllAvailable()
      assert(maintainer.latestVersion == 2L)
    } finally q.stop()

    val allDocs = Seq(d1, d2, d3, d4).toDF("doc_id", "text", "lang", "source", "n_chars")
    val batchBuilt = graft.ingest.IndexBuilder.buildGlobalIndex(
      graft.ingest.IndexBuilder.documentIndexRows(allDocs, 2))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("fieldValue"), col("fieldName"), col("partition"), col("language"),
        col("count"), array_sort(col("uids")).as("uids"), col("ignore"))
      .collect().map(_.toString).sorted.toSeq
    // the read over 3 delta dirs equals the from-scratch build — the
    // merge-on-read contract (A1: fold exact at any granularity)
    assert(canon(maintainer.latest.get) == canon(batchBuilt))

    // a version dir is a DELTA: it holds ONLY its own batch's postings,
    // never accumulated state — O(|batch|) write amplification
    def termsIn(v: String) = spark.read.parquet(s"$dir/$v")
      .filter(col("fieldName") === "TEXT")
      .select("fieldValue").collect().map(_.getString(0)).toSet
    assert(termsIn("v0") == Set("alpha", "beta", "gamma", "delta"))
    assert(termsIn("v1") == Set("beta", "epsilon"))
    assert(termsIn("v2") == Set("alpha", "epsilon"))

    // a restarted maintainer recovers the committed pointer from disk —
    // a fresh instance must NOT restart the index from scratch
    val recovered = new LiveIndexMaintainer(spark, dir, numPartitions = 2)
    assert(recovered.latestVersion == 2L)
    assert(canon(recovered.latest.get) == canon(batchBuilt))

    // major compaction folds base+deltas into one c<k> dir: the read
    // view is IDENTICAL pre/post, subsumed deltas are swept, and a
    // restarted maintainer reads the base alone
    val through = Compaction.compactIndex(spark, dir)
    assert(through == 2L)
    assert(new java.io.File(s"$dir/c2/_SUCCESS").exists())
    assert(!new java.io.File(s"$dir/v0").exists() && !new java.io.File(s"$dir/v2").exists())
    val afterCompact = new LiveIndexMaintainer(spark, dir, numPartitions = 2)
    assert(afterCompact.latestVersion == 2L)
    assert(canon(afterCompact.latest.get) == canon(batchBuilt))
  }

  test("LiveNearDupMaintainer: streaming near-dup filter against accumulated corpus state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir  = java.nio.file.Files.createTempDirectory("graft-live-dedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-live-dedup-ckpt").toString
    val input = MemoryStream[(Long, String, String, String, Int)]
    val docsStream = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    val q = m.attach(docsStream, ckpt)
    // tail-variant texts: one changed final word alters exactly one of
    // the 10-11 distinct trigram shingles → jaccard ~0.8-0.82, safely
    // above tau=0.6 (where LSH banding recall is certain)
    val base = "the quick brown fox jumps over the lazy dog again and"
    val o    = "orthogonal content concerning bloom filters and decontamination verify paths"
    val d1 = (1L, s"$base again", "en", "s", 0)
    val d2 = (2L, s"$base more", "en", "s", 0)  // near-dup of batch-mate 1
    val d3 = (3L, "completely different text about spark structured streaming watermarks entirely", "en", "s", 0)
    val d4 = (4L, s"$base also", "en", "s", 0)  // near-dup of KEPT corpus doc 1
    val d5 = (5L, s"$o here", "en", "s", 0)
    val d6 = (6L, s"$o there", "en", "s", 0)    // near-dup of batch-mate 5
    try {
      input.addData(d1, d2, d3); q.processAllAvailable()
      assert(m.latestVersion == 0L)
      input.addData(d4, d5, d6); q.processAllAvailable()
      assert(m.latestVersion == 1L)
    } finally q.stop()
    def verd(b: Long) = m.verdictsFor(b).as[(Long, String)].collect().toMap
    assert(verd(0) == Map(1L -> "keep", 2L -> "drop", 3L -> "keep"))
    assert(verd(1) == Map(4L -> "drop", 5L -> "keep", 6L -> "drop"))
    assert(m.latest.get.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // versions are APPEND-ONLY deltas (O(|batch|) writes, never
    // O(corpus)): v1 holds only batch 1's keeper, and dropped docs
    // leave NO state anywhere — doc 2 is absent from every delta, so
    // its later twin 4 dropped via kept doc 1, not via 2
    assert(spark.read.parquet(s"$dir/v1/sets").select("doc_id").as[Long]
      .collect().toSet == Set(5L))
    assert(spark.read.parquet(s"$dir/v0/sets", s"$dir/v1/sets")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // a restarted maintainer recovers the committed pointer from disk
    val recovered = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    assert(recovered.latestVersion == 1L)
    assert(recovered.latest.get.count() == 3)

    // major compaction: additive parts concatenate into one c<k> base,
    // kept corpus identical pre/post, subsumed deltas swept
    val through = Compaction.compactDedup(spark, dir)
    assert(through == 1L)
    assert(LiveNearDupMaintainer.Parts.forall(p =>
      new java.io.File(s"$dir/c1/$p/_SUCCESS").exists()))
    assert(!new java.io.File(s"$dir/v0").exists() && !new java.io.File(s"$dir/v1").exists())
    val compacted = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    assert(compacted.latestVersion == 1L)
    assert(compacted.latest.get.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))

    // the stream continues AFTER compaction: with the production
    // same-checkpoint contract batch ids continue past c<k>, so the
    // next batch (id 2 > compacted-through 1) probes the compacted base
    // — a twin of kept doc 1 still drops, and the new delta lands as a
    // visible v2 above the base
    compacted.processBatch(
      Seq((7L, s"$base anew", "en", "s", 0), (8L, "unseen payload about columnar execution engines today", "en", "s", 0))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), 2L)
    assert(compacted.verdictsFor(2).as[(Long, String)].collect().toMap ==
      Map(7L -> "drop", 8L -> "keep"))
    assert(compacted.latest.get.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 8L))
  }

  test("LiveNearDupMaintainer: doc tombstones unblock future twins and erase at compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-live-dedup-del").toString
    val m = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = "the quick brown fox jumps over the lazy dog again and"
    m.processBatch(df(Seq(
      (1L, s"$base again", "en", "s", 0),
      (3L, "completely different text about spark structured streaming watermarks entirely", "en", "s", 0))), 0L)
    // twin of kept corpus doc 1 → drops while 1 is alive
    m.processBatch(df(Seq((4L, s"$base also", "en", "s", 0))), 1L)
    assert(m.verdictsFor(1).as[(Long, String)].collect().toMap == Map(4L -> "drop"))
    // v2: forget doc 1 — its text AND its LSH artifacts must stop
    // matching, so a later twin KEEPS (the corpus no longer holds it)
    m.processDeletes(Seq(1L).toDF("doc_id"), 2L)
    assert(m.latest.get.select("doc_id").as[Long].collect().toSet == Set(3L))
    m.processBatch(df(Seq((9L, s"$base anew", "en", "s", 0))), 3L)
    assert(m.verdictsFor(3).as[(Long, String)].collect().toMap == Map(9L -> "keep"))
    assert(m.latest.get.select("doc_id").as[Long].collect().toSet == Set(3L, 9L))

    // compaction erases doc 1 physically from every part
    assert(Compaction.compactDedup(spark, dir) == 3L)
    assert(spark.read.parquet(s"$dir/c3/tombstones").isEmpty)
    for (p <- Seq("docs", "sets", "bands"))
      assert(spark.read.parquet(s"$dir/c3/$p").filter(col("doc_id") === 1L).isEmpty, p)
    val recovered = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    assert(recovered.latest.get.select("doc_id").as[Long].collect().toSet == Set(3L, 9L))
    // and the corpus keeps deduping against the post-delete state: a
    // twin of the RE-KEPT doc 9 drops
    recovered.processBatch(df(Seq((12L, s"$base redux", "en", "s", 0))), 4L)
    assert(recovered.verdictsFor(4).as[(Long, String)].collect().toMap == Map(12L -> "drop"))
  }

  test("LiveEngineMaintainer: the streamed store serves the full query language like a batch build") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-live-engine").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    val batches = Seq(
      Seq((1L, "alpha beta gamma", "en", "s1", 16),
          (2L, "alpha delta", "en", "s1", 11)),
      Seq((3L, "beta beta epsilon", "de", "s2", 17),
          (4L, "gamma alpha beta", "en", "s2", 16)),
      Seq((5L, "delta epsilon alpha", "en", "s1", 19)))
    batches.zipWithIndex.foreach { case (b, i) =>
      m.processBatch(b.toDF("doc_id", "text", "lang", "source", "n_chars"), i.toLong)
    }
    assert(m.latestVersion == 2L)

    val allDocs = batches.flatten.toDF("doc_id", "text", "lang", "source", "n_chars")
    val ref  = new WikiSearchEngine(spark,
      graft.ingest.IndexBuilder.fromDocumentsTable(spark, allDocs, 2))
    def ids(e: WikiSearchEngine, q: String, auths: Seq[String] = Nil) =
      e.run(q, auths).select("docId").collect().map(_.getString(0)).toSet
    // every access path: EQ conjunction, suffix (derived reverse
    // index), proximity (postings offsets), fuzzy (vocabulary
    // expansion), auths (language visibility)
    val queries = Seq(
      "TEXT == 'alpha' and TEXT == 'beta'",
      "TEXT =~ '.*lta'",
      "f:near(TEXT, 2, 'alpha', 'beta')",
      "f:onear(TEXT, 2, 'alpha', 'beta')",
      "f:fuzzy(TEXT, 'alpa')")
    def check(live: WikiSearchEngine): Unit = {
      for (q <- queries) assert(ids(live, q) == ids(ref, q), q)
      assert(ids(live, "TEXT == 'beta'", Seq("de")) == ids(ref, "TEXT == 'beta'", Seq("de")))
    }
    check(new WikiSearchEngine(spark, m.latestIndex.get))

    // major compaction folds every part with its read-path fold; the
    // compacted store serves identically, and the store keeps ingesting
    assert(Compaction.compactEngine(spark, dir) == 2L)
    assert(!new java.io.File(s"$dir/v0").exists())
    val recovered = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    check(new WikiSearchEngine(spark, recovered.latestIndex.get))
    recovered.processBatch(
      Seq((6L, "zeta alpha beta", "fr", "s3", 15))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), 3L)
    val allDocs2 = (batches.flatten :+ ((6L, "zeta alpha beta", "fr", "s3", 15)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ref2 = new WikiSearchEngine(spark,
      graft.ingest.IndexBuilder.fromDocumentsTable(spark, allDocs2, 2))
    val live2 = new WikiSearchEngine(spark, recovered.latestIndex.get)
    for (q <- queries :+ "TEXT == 'zeta'")
      assert(ids(live2, q) == ids(ref2, q), s"post-compaction ingest: $q")
  }

  test("a compacted engine base commits last: no derived part is written after c<k>/tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("graft-live-commit-order").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    m.processBatch(Seq((1L, "alpha beta", "en", "s1", 10), (2L, "gamma delta", "de", "s2", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    m.processDeletes(Seq(Tuple1(2L)).toDF("doc_id"), 1L)
    m.processBatch(Seq((3L, "alpha epsilon", "en", "s1", 13))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 2L)
    val k = Compaction.compactEngine(spark, dir, deleteSubsumed = false)
    assert(k == 2L)
    // `tombstones` is the last core part: once its marker exists, a
    // version counts as committed, so every other part must already be
    // there — in the compacted base and in a micro-batch's delta alike
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def assertCommitsLast(version: String, parts: Seq[String]): Unit = {
      def markedAt(part: String): Long =
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$version/$part/_SUCCESS")).getModificationTime
      val committedAt = markedAt("tombstones")
      for (p <- parts.filter(_ != "tombstones"))
        assert(markedAt(p) <= committedAt, s"part $p was written after $version committed")
    }
    assertCommitsLast(s"c$k", LiveEngineMaintainer.Parts)
    // an undeclared store's delta carries no field_postings part
    assertCommitsLast("v2", LiveEngineMaintainer.Parts.filter(_ != "field_postings"))
  }

  test("concurrent part writes: every part of three local batches equals the in-memory build") {
    import graft.ingest.IndexBuilder
    import graft.tools.DumpIndexTables.sortedRows
    // local (createDataFrame(Seq)) batches are the shape a frame shared
    // by concurrently optimized parts can corrupt: the optimizer
    // evaluates their projections on the driver
    val dir = java.nio.file.Files.createTempDirectory("graft-live-concurrent").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 4)
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(500)(i => s"t${i * 7919 % 1000}") ++ Seq("alpha", "beta", "gamma")
    for (b <- 0 until 3) {
      val docs = (0 until 400).map { i =>
        val text = Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
          .mkString(if (rnd.nextInt(10) == 0) "  " else " ")
        (b * 400L + i, text, if (rnd.nextBoolean()) "en" else "de", s"s${rnd.nextInt(4)}",
          text.length.toLong)
      }
      val batch = spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      m.processBatch(batch, b.toLong)
      val expected = LiveEngineMaintainer.indexParts(
        IndexBuilder.fromDocumentsTable(spark, batch, 4), m.emptyTombstones)
      assert(new java.io.File(s"$dir/v$b").list().toSet == expected.map(_._1).toSet)
      for ((p, df) <- expected) {
        val (got, want) = (sortedRows(spark.read.parquet(s"$dir/v$b/$p")), sortedRows(df))
        if (got != want) fail(s"v$b/$p differs from the in-memory build: ${got.diff(want).size} " +
          s"rows only on disk, e.g. ${got.diff(want).take(2)}; ${want.diff(got).size} only in memory")
      }
    }
  }

  test("a failed part write: its own error, nothing committed, no writer thread left, a fixed replay commits") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-live-failed-part").toString
    val boom = "part write failed on purpose"
    // the extra field feeds docs_fields, events and metadata: those parts
    // fail for doc 99, the others write
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2, extraFields = Map(
      "CHECK" -> when(col("doc_id") === 99L, raise_error(lit(boom))).otherwise(col("source"))))
    def docs(ids: Long*) = ids.map(i => (i, s"alpha w$i", "en", "s1", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(docs(1L, 2L), 0L)
    val before = (m.latestVersion, m.serveSnapshot())
    val e = intercept[Exception](m.processBatch(docs(3L, 99L), 1L))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e.toString)
    assert(String.valueOf(e.getMessage).contains(boom), e.toString)
    assert(!VersionedState.exists(s"$dir/v1/tombstones/_SUCCESS"))
    assert((m.latestVersion, m.serveSnapshot()) == before)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith(VersionedState.WriterThread)), "a part writer outlived its batch")
    m.processBatch(docs(3L, 4L), 1L)
    assert(m.latestVersion == 1L && VersionedState.exists(s"$dir/v1/tombstones/_SUCCESS"))
    assert(m.latestIndex.get.docsFields.select("docId").distinct().as[String].collect().sorted.toSeq ==
      Seq("1", "2", "3", "4"))
  }

  /** Version `v` of the store at `dir` holds exactly `expected`'s parts,
    * each the same row multiset as its frame evaluated on its own.
    */
  private def assertPartsEqual(dir: String, v: Long,
      expected: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit = {
    import graft.tools.DumpIndexTables.sortedRows
    assert(new java.io.File(s"$dir/v$v").list().toSet == expected.map(_._1).toSet)
    for ((p, df) <- expected) {
      val (got, want) = (sortedRows(spark.read.parquet(s"$dir/v$v/$p")), sortedRows(df))
      if (got != want) fail(s"v$v/$p differs from the in-memory frame: ${got.diff(want).size} " +
        s"rows only on disk, e.g. ${got.diff(want).take(2)}; ${want.diff(got).size} only in memory")
    }
  }

  test("concurrent part writes: every near-dup part of three local batches and a delete batch equals the in-memory frames") {
    import graft.pipeline.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-live-dedup-concurrent").toString
    val m = new LiveNearDupMaintainer(spark, dir, tau = 0.6)
    val rnd = new scala.util.Random(13)
    val vocab = Vector.tabulate(200)(i => s"w${i * 7919 % 1000}")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var dropped = 0L
    for (b <- 0 until 3) {
      // every fourth doc is a one-word variant of an earlier doc of this
      // batch or of the corpus: drops inside the batch and against it
      val docs = (0 until 40).map { i =>
        val text =
          if (i % 4 == 3) texts(rnd.nextInt(texts.size)).split(" ").init.mkString(" ") + " tail"
          else Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        texts += text
        (b * 40L + i, text, "en", "s", text.length.toLong)
      }
      val batch = spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      m.processBatch(batch, b.toLong)
      val dropIds = m.verdictsFor(b.toLong).filter(col("verdict") === "drop").select("doc_id")
      dropped += dropIds.count()
      val keptIds = batch.select("doc_id").join(dropIds, Seq("doc_id"), "left_anti")
      val sets = Dedup.shingleSets(batch, 3)
      assertPartsEqual(dir, b, Seq(
        "sets" -> sets.join(keptIds, Seq("doc_id"), "left_semi"),
        "bands" -> Dedup.minhashBands(sets, 32).join(keptIds, Seq("doc_id"), "left_semi"),
        "docs" -> batch.join(dropIds, Seq("doc_id"), "left_anti"),
        "tombstones" -> m.emptyTombstones))
    }
    assert(dropped > 0, "no near-duplicate dropped: the batches exercise only the keep path")
    m.processDeletes(spark.createDataFrame(Seq(Tuple1(0L), Tuple1(0L), Tuple1(5L))).toDF("doc_id"), 3L)
    assertPartsEqual(dir, 3L, Seq("docs" -> spark.emptyDataFrame, "sets" -> spark.emptyDataFrame,
      "bands" -> spark.emptyDataFrame, "tombstones" -> Seq(0L, 5L).toDF("doc_id")))
  }

  test("concurrent part writes: every ANN part of three local batches and a delete batch equals the in-memory frames") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-live-ann-concurrent").toString
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 2, pqK = 4)
    val rnd = new scala.util.Random(17)
    for (b <- 0 until 3) {
      val vecs = (0 until 120).map(i => (b * 120L + i, Array.fill(8)(rnd.nextFloat())))
      val batch = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
      m.processBatch(batch, b.toLong)
      assertPartsEqual(dir, b, Seq(
        "assigned" -> Similarity.assignIvf(m.centroids.get, batch),
        "codes" -> Similarity.encodePq(m.pqBooks.get, batch),
        "tombstones" -> m.emptyTombstones))
    }
    m.processDeletes(spark.createDataFrame(Seq(Tuple1(3L), Tuple1(3L), Tuple1(200L))).toDF("vec_id"), 3L)
    assertPartsEqual(dir, 3L, Seq("assigned" -> spark.emptyDataFrame, "codes" -> spark.emptyDataFrame,
      "tombstones" -> Seq(3L, 200L).toDF("vec_id")))
  }

  test("a failed ANN part write: its own error, nothing committed, no writer thread left, a fixed replay commits") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-live-ann-failed-part").toString
    val boom = "ann part write failed on purpose"
    val m = new LiveAnnMaintainer(spark, dir, cells = 2, pqM = 2, pqK = 2)
    def vecs(ids: Long*) = spark.createDataFrame(ids.map(i => (i, Array.tabulate(4)(d => (i * 4 + d).toFloat))))
      .toDF("vec_id", "embedding")
    m.processBatch(vecs(1L, 2L, 3L, 4L), 0L)
    val before = (m.latestVersion, m.serveSnapshot())
    // vector 99's embedding raises: `assigned` and `codes`, written at
    // the same time, both fail for it
    val e = intercept[Exception](m.processBatch(vecs(5L, 99L).withColumn("embedding",
      when(col("vec_id") === 99L, raise_error(lit(boom))).otherwise(col("embedding"))), 1L))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e.toString)
    assert(String.valueOf(e.getMessage).contains(boom), e.toString)
    assert(!VersionedState.exists(s"$dir/v1/tombstones/_SUCCESS"))
    assert((m.latestVersion, m.serveSnapshot()) == before)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith(VersionedState.WriterThread)), "a part writer outlived its batch")
    m.processBatch(vecs(5L, 6L), 1L)
    assert(m.latestVersion == 1L && VersionedState.exists(s"$dir/v1/tombstones/_SUCCESS"))
    assert(m.latestIndex.get.assigned.select("vec_id").as[Long].collect().sorted.toSeq == (1L to 6L))
    assert(m.latestPq.get.codes.select("vec_id").as[Long].collect().sorted.toSeq == (1L to 6L))
  }

  test("a live batch's and a compaction's jobs carry the caller's job group and tag in the ingest pool; a reader's carry none") {
    import org.apache.spark.scheduler.{SchedulingMode, SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // the pools `Sessions.builder` configures: FIFO inside each
    assert(sc.getPoolForName(VersionedState.IngestPool).exists(_.schedulingMode == SchedulingMode.FIFO))
    assert(sc.getPoolForName("default").exists(_.schedulingMode == SchedulingMode.FIFO))
    val dir = java.nio.file.Files.createTempDirectory("graft-live-attribution").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    def docs(ids: Long*) = ids.map(i => (i, s"alpha w$i", "en", "s1", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(docs(1L, 2L), 0L)
    val (group, tag, readerGroup, marker) =
      ("live-writer-group", "live-writer-tag", "live-reader-group", "live-attribution-marker")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.properties)
    }
    sc.addSparkListener(listener)
    @volatile var writing = true
    // made before the caller sets its group and tag: a thread inherits
    // the local properties of the thread that makes it
    val reader = new Thread(() => {
      sc.setJobGroup(readerGroup, "reader beside the writer")
      while (writing)
        try m.latestIndex.get.docsFields.count()
        catch { case _: Exception => () } // a read racing the writer may fail; its jobs count
    })
    try {
      reader.start()
      sc.setJobGroup(group, "live writer")
      sc.addJobTag(tag)
      try {
        m.processBatch(docs(3L, 4L), 1L)
        Compaction.compactEngine(spark, dir, deleteSubsumed = false)
      } finally { sc.clearJobGroup(); sc.removeJobTag(tag) }
      writing = false
      reader.join()
      // listener events arrive in order: once the marker job is seen, so
      // is every job before it
      sc.setJobGroup(marker, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      def seen = jobs.asScala.toSeq
      while (!seen.exists(_.getProperty("spark.jobGroup.id") == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    def tagsOf(p: java.util.Properties) =
      Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
    // a streaming query some other test left running is neither side
    val byGroup = jobs.asScala.toSeq.filter(_.getProperty("sql.streaming.queryId") == null)
      .groupBy(p => Option(p.getProperty("spark.jobGroup.id")))
    assert(byGroup.keySet == Set(Some(group), Some(readerGroup), Some(marker)),
      s"jobs outside the writer and the reader: ${byGroup.keySet}")
    val writer = byGroup(Some(group))
    assert(writer.size >= 10, s"${writer.size} writer jobs")
    writer.foreach { p =>
      assert(tagsOf(p).contains(tag), p)
      assert(p.getProperty("spark.scheduler.pool") == VersionedState.IngestPool, p)
    }
    val read = byGroup(Some(readerGroup))
    assert(read.nonEmpty)
    read.foreach { p =>
      assert(!tagsOf(p).contains(tag), p)
      assert(p.getProperty("spark.scheduler.pool") != VersionedState.IngestPool, p)
    }
  }

  test("live store serves suffix/infix from delta reverse/trigram parts with pushed prefixes, and BM25 from materialized doc lengths") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-live-paths").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    val batches = Seq(
      Seq((1L, "alpha beta alpha", "en", "s1", 16),
          (2L, "alpha delta", "en", "s1", 11)),
      Seq((3L, "beta delta epsilon", "de", "s2", 18),
          (4L, "gamma alpha beta", "en", "s2", 16)))
    batches.zipWithIndex.foreach { case (b, i) =>
      m.processBatch(b.toDF("doc_id", "text", "lang", "source", "n_chars"), i.toLong)
    }
    m.processDeletes(Seq(Tuple1(2L)).toDF("doc_id"), 2L)
    val ix = m.latestIndex.get
    // the live store must serve the STORED access-path layouts, not the
    // round-8 derived projections: the suffix probe's prefix predicate
    // reaches the reverse-part parquet scans as a pushed StringStartsWith
    // (on a derived reverse(fieldValue) column nothing can push), and the
    // trigram probe likewise pushes its gram filter
    val revProbe = ix.reverseIndex.filter(
      col("fieldName") === "TEXT" && col("fieldValue").startsWith("at"))
    val revPlan = revProbe.queryExecution.executedPlan.toString
    assert(revPlan.contains("StartsWith"),
      s"live suffix probe must push StartsWith to the reverse parts:\n$revPlan")
    val triPlan = ix.trigramIndex.filter(col("gram") === "lph")
      .queryExecution.executedPlan.toString
    assert(triPlan.contains("PushedFilters: [IsNotNull(gram), EqualTo(gram,lph)"),
      s"live trigram probe must push the gram filter:\n$triPlan")
    // equality vs a from-scratch batch build on the suffix/infix/ranked
    // paths (the store carries a tombstone, so the masked fold is live)
    val aliveDocs = (batches.flatten.filterNot(_._1 == 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ref  = new WikiSearchEngine(spark,
      graft.ingest.IndexBuilder.fromDocumentsTable(spark, aliveDocs, 2))
    val live = new WikiSearchEngine(spark, ix)
    def ids(e: WikiSearchEngine, q: String) =
      e.run(q).select("docId").collect().map(_.getString(0)).toSet
    for (q <- Seq("TEXT =~ '.*lta'", "TEXT =~ '.*lph.*'", "TEXT =~ '.*psilon'"))
      assert(ids(live, q) == ids(ref, q), q)
    // doc_lengths part: masked union equals a batch rebuild's lengths
    // exactly (the deleted doc contributes to neither), so ranked
    // serving over the live store needs no tokenize and stays exact
    def dl(i: graft.ingest.WikiIndex) = i.docLengths
      .select("docId", "language", "dl").collect().map(_.toSeq).toSet
    val dlLive = dl(ix)
    assert(dlLive == dl(graft.ingest.IndexBuilder.fromDocumentsTable(spark, aliveDocs, 2)))
    val tie = col("docId").cast("bigint")
    assert(live.rank(Seq("alpha", "beta"), tieBreak = tie).collect().map(_.toSeq).toSeq ==
      ref.rank(Seq("alpha", "beta"), tieBreak = tie).collect().map(_.toSeq).toSeq)
    // ...and compaction preserves all of it (stored layouts rebuilt from
    // the folded global, doc_lengths masked physically). The MANUAL
    // eager compaction deletes the v-dirs `ix`/`live` are pinned to, so
    // everything read from them was captured above — the reader-grace
    // story for long-lived readers is the auto path's (see
    // `Compaction.maybeCompact`) or the CLI keep+sweep protocol.
    Compaction.compactEngine(spark, dir)
    val cIx = new LiveEngineMaintainer(spark, dir, numPartitions = 2).latestIndex.get
    for (q <- Seq("TEXT =~ '.*lta'", "TEXT =~ '.*lph.*'"))
      assert(ids(new WikiSearchEngine(spark, cIx), q) == ids(ref, q), s"post-compaction: $q")
    assert(dl(cIx) == dlLive)
  }

  test("a partially-written version (crash window) is invisible to readers and cleanly overwritten on replay") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-partial-commit").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    m.processBatch(Seq((1L, "alpha beta", "en", "s1", 10))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    // simulate a crash mid-write of v1: some core parts present, the
    // commit-completing tombstones part missing
    Seq((99L, "ghost doc", "en", "s1", 9))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .createOrReplaceTempView("ghost")
    val ghost = graft.ingest.IndexBuilder.fromDocumentsTable(
      spark, spark.table("ghost"), 2)
    ghost.documents.write
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(s"$dir/v1/documents")
    ghost.globalIndex.write
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(s"$dir/v1/global")
    // the uncommitted version must be invisible — to the version pointer,
    // the read set, and query results
    val m2 = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(m2.latestVersion == 0L, "partial v1 must not count as committed")
    val live = new WikiSearchEngine(spark, m2.latestIndex.get)
    assert(live.run("TEXT == 'ghost'").collect().isEmpty)
    // replay of batch 1 overwrites the partial dir and commits cleanly
    m2.processBatch(Seq((2L, "alpha gamma", "en", "s1", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), 1L)
    assert(m2.latestVersion == 1L)
    val after = new WikiSearchEngine(spark, m2.latestIndex.get)
    assert(after.run("TEXT == 'alpha'")
      .select("docId").collect().map(_.getString(0)).toSet == Set("1", "2"))
    assert(after.run("TEXT == 'ghost'").collect().isEmpty,
      "the crash window's ghost rows must not survive the replay overwrite")
  }

  test("indexAt: LSM time travel serves consistent historical snapshots while ingest and deletes continue") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-time-travel").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(df(Seq((1L, "alpha beta", "en", "s1", 10))), 0L)
    m.processBatch(df(Seq((2L, "alpha gamma", "en", "s1", 11))), 1L)
    m.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 2L)
    m.processBatch(df(Seq((3L, "alpha delta", "en", "s1", 11))), 3L)
    def ids(ix: graft.ingest.WikiIndex) =
      new WikiSearchEngine(spark, ix).run("TEXT == 'alpha'")
        .select("docId").collect().map(_.getString(0)).toSet
    // each snapshot sees exactly the state as of its version: later
    // ingests AND the later delete are invisible to earlier snapshots
    assert(ids(m.indexAt(0L).get) == Set("1"))
    assert(ids(m.indexAt(1L).get) == Set("1", "2"), "pre-delete snapshot keeps doc 1")
    assert(ids(m.indexAt(2L).get) == Set("2"))
    assert(ids(m.indexAt(3L).get) == Set("2", "3"))
    assert(ids(m.latestIndex.get) == Set("2", "3"))
    // retention bounds the reach: after an eager compaction subsumes and
    // sweeps v0..v3, a pre-base version has no read set left
    Compaction.compactEngine(spark, dir)
    val rec = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(rec.indexAt(1L).isEmpty, "time travel below the swept base is gone")
    assert(ids(rec.indexAt(3L).get) == Set("2", "3"), "the base itself still serves")
  }

  test("round-8 stores (no derived parts) stay servable and one compaction graduates them") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-r8-migrate").toString
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s1", 16),
      (2L, "alpha delta", "en", "s1", 11),
      (3L, "beta epsilon", "de", "s2", 12))
    val m0 = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    docs.grouped(2).zipWithIndex.foreach { case (b, i) =>
      m0.processBatch(b.toDF("doc_id", "text", "lang", "source", "n_chars"), i.toLong)
    }
    // simulate the round-8 on-disk format: strip the derived parts
    for (v <- new java.io.File(dir).listFiles(); p <- LiveEngineMaintainer.DerivedParts)
      VersionedState.deleteRecursively(new java.io.File(v, p))
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(m.latestVersion == 1L, "core-part commit detection must see the old store")
    val ix = m.latestIndex.get
    // derived parts absent everywhere → the WikiIndex derived fallbacks
    assert(ix.storedDocLengths.isEmpty && ix.storedReverse.isEmpty &&
      ix.storedTrigram.isEmpty)
    val ref = new WikiSearchEngine(spark, graft.ingest.IndexBuilder.fromDocumentsTable(
      spark, docs.toDF("doc_id", "text", "lang", "source", "n_chars"), 2))
    def ids(e: WikiSearchEngine, q: String) =
      e.run(q).select("docId").collect().map(_.getString(0)).toSet
    val live = new WikiSearchEngine(spark, ix)
    for (q <- Seq("TEXT =~ '.*lta'", "TEXT =~ '.*lph.*'", "TEXT == 'alpha'"))
      assert(ids(live, q) == ids(ref, q), s"degraded (derived-fallback) serving: $q")
    val tie = col("docId").cast("bigint")
    assert(live.rank(Seq("alpha"), tieBreak = tie).collect().map(_.toSeq).toSeq ==
      ref.rank(Seq("alpha"), tieBreak = tie).collect().map(_.toSeq).toSeq)
    // one compaction rebuilds every derived part from core data — the
    // store graduates to the full pruned layout
    assert(Compaction.compactEngine(spark, dir) == 1L)
    for (p <- LiveEngineMaintainer.Parts)
      assert(new java.io.File(s"$dir/c1/$p/_SUCCESS").exists(), s"graduated part $p")
    val gIx = new LiveEngineMaintainer(spark, dir, numPartitions = 2).latestIndex.get
    assert(gIx.storedDocLengths.isDefined && gIx.storedReverse.isDefined &&
      gIx.storedTrigram.isDefined)
    val graduated = new WikiSearchEngine(spark, gIx)
    for (q <- Seq("TEXT =~ '.*lta'", "TEXT =~ '.*lph.*'"))
      assert(ids(graduated, q) == ids(ref, q), s"graduated serving: $q")
  }

  test("LiveAnnMaintainer: enabling pqM on an existing flat store backfills codes; codes-less stores serve flat and graduate at compaction") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-enable").toString
    val rnd = new scala.util.Random(17)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val pre  = (0L until 20L).map(i => (i, vec()))
    val post = (20L until 30L).map(i => (i, vec()))
    // phase 1: flat store (pqM = 0) — codes parts are schema-preserved empty
    val flat = new LiveAnnMaintainer(spark, dir, cells = 4, iters = 2)
    flat.processBatch(pre.toDF("vec_id", "embedding"), 0L)
    assert(flat.latestPq.isEmpty)
    // phase 2: operator enables PQ — the first PQ batch trains books AND
    // backfills codes for every pre-enable vector in its delta
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 4, pqK = 4)
    m.processBatch(post.toDF("vec_id", "embedding"), 1L)
    val pq = m.latestPq.get
    assert(pq.codes.select("vec_id").collect().map(_.getLong(0)).toSet ==
      (pre ++ post).map(_._1).toSet, "pre-enable vectors must be coded")
    val books = m.pqBooks.get
    val queries = (1000L until 1003L).map(i => (i, vec())).toDF("vec_id", "embedding")
    def serve(ivf: Similarity.IvfIndex, p: Similarity.PqIndex) =
      Similarity.ivfPqTopK(ivf, p, queries, k = 3, nprobe = 2, shortlist = 8)
        .collect().map(_.toSeq).toSeq
    val union = (pre ++ post).toDF("vec_id", "embedding")
    val want = serve(
      Similarity.IvfIndex(m.centroids.get, Similarity.assignIvf(m.centroids.get, union)),
      Similarity.PqIndex(books, Similarity.encodePq(books, union)))
    assert(serve(m.latestIndex.get, m.latestPq.get) == want && want.nonEmpty)
    // phase 3: a vector deleted then re-ingested through a NON-PQ
    // maintainer has a live assignment but only a stale pre-tombstone
    // code row; the next maintainer restart's coverage reconciliation
    // must backfill it (the probe is tombstone-masked, version-ordered)
    m.processDeletes(Seq(Tuple1(3L)).toDF("vec_id"), 2L)
    new LiveAnnMaintainer(spark, dir, cells = 4) // pqM = 0: empty codes delta
      .processBatch(Seq((3L, vec())).toDF("vec_id", "embedding"), 3L)
    val m2 = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 4, pqK = 4)
    m2.processBatch(Seq((30L, vec())).toDF("vec_id", "embedding"), 4L)
    val liveCoded = m2.latestPq.get.codes.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(liveCoded == (pre ++ post).map(_._1).toSet + 30L,
      "re-ingested vec 3 must be re-coded by the masked coverage probe")
    // phase 4: a store whose codes part is missing in SOME read-set dir
    // (simulated round-8 dir) must not serve a silently-partial PQ view —
    // flat IVF still serves — and compactAnn rebuilds full coverage
    VersionedState.deleteRecursively(new java.io.File(s"$dir/v1/codes"))
    val degraded = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 4, pqK = 4)
    assert(degraded.latestPq.isEmpty, "partial codes coverage must not serve")
    assert(degraded.latestIndex.isDefined)
    assert(Compaction.compactAnn(spark, dir) == 4L)
    val rec = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 4, pqK = 4)
    assert(rec.latestPq.get.codes.select("vec_id").collect().map(_.getLong(0)).toSet ==
      (pre ++ post).map(_._1).toSet + 30L,
      "compaction rebuilds codes from masked assignments")
    // phase 5: OFFLINE-trained books installed before any PQ batch — the
    // first PQ batch must still reconcile coverage (the backfill trigger
    // is first-PQ-batch-of-this-maintainer, not pq_books absence)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pq-offline").toString
    new LiveAnnMaintainer(spark, dir2, cells = 4)
      .processBatch(pre.toDF("vec_id", "embedding"), 0L)
    books.zipWithIndex.flatMap { case (book, mi) =>
      book.zipWithIndex.map { case (cw, ci) => (mi, ci, cw.toSeq) }
    }.toSeq.toDF("m", "code", "codeword")
      .coalesce(1).write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(s"$dir2/pq_books")
    val off = new LiveAnnMaintainer(spark, dir2, cells = 4, pqM = 4, pqK = 4)
    off.processBatch(post.toDF("vec_id", "embedding"), 1L)
    assert(off.latestPq.get.codes.select("vec_id").collect().map(_.getLong(0)).toSet ==
      (pre ++ post).map(_._1).toSet, "offline-books first batch must backfill")
  }

  test("compactAnn retrain: re-sizes the IVF index at compaction; ingest-after and default compactions preserve it") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-retrain").toString
    val rnd = new scala.util.Random(29)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val b0 = (0L until 30L).map(i => (i, vec()))
    val b1 = (30L until 120L).map(i => (i, vec()))
    val queries = (1000L until 1005L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, iters = 2)
    m.processBatch(b0.toDF("vec_id", "embedding"), 0L)
    m.processBatch(b1.toDF("vec_id", "embedding"), 1L)
    m.processDeletes(Seq(Tuple1(7L)).toDF("vec_id"), 2L)
    assert(m.centroids.get.length == 4)
    // FULL-probe serving must equal brute force over the live vectors —
    // the exactness invariant that must survive every step below (cells
    // partition candidates, they never drop them)
    def fullProbe(mm: LiveAnnMaintainer): Seq[String] = {
      val ivf = mm.latestIndex.get
      Similarity.ivfTopKWith(ivf, queries, k = 3, nprobe = ivf.cents.length)
        .collect().map(_.toString).sorted.toSeq
    }
    def brute(live: Seq[(Long, Seq[Float])]): Seq[String] =
      Similarity.topK(live.toDF("vec_id", "embedding"), queries, k = 3)
        .collect().map(_.toString).sorted.toSeq
    val live0 = (b0 ++ b1).filterNot(_._1 == 7L)
    assert(fullProbe(m) == brute(live0))
    // retrain at compaction: auto-cells from the 119 live vectors →
    // max(16, ceil(√119)=11) = 16; the new centroid set rides IN the
    // compacted dir and wins over the store-level frozen set
    assert(Compaction.compactAnn(spark, dir, retrainCells = Similarity.AutoCells) == 2L)
    val r = new LiveAnnMaintainer(spark, dir, cells = 4)
    assert(r.centroids.get.length == 16, "retrained cell count")
    assert(r.latestIndex.get.assigned.select("vec_id").collect()
      .map(_.getLong(0)).toSet == live0.map(_._1).toSet,
      "re-assignment covers exactly the live vectors (deleted erased)")
    assert(fullProbe(r) == brute(live0), "post-retrain serving is exact")
    // ingest AFTER the retrain: the delta must assign under the NEW
    // geometry (base-first centroid resolution in processBatch)
    val b3 = (200L until 230L).map(i => (i, vec()))
    r.processBatch(b3.toDF("vec_id", "embedding"), 3L)
    val live1 = live0 ++ b3
    assert(fullProbe(r) == brute(live1), "post-retrain ingest serves exactly")
    // a DEFAULT compaction must carry the retrained set forward, not
    // silently revert to the store-level 4-cell codebook
    assert(Compaction.compactAnn(spark, dir) == 3L)
    val c = new LiveAnnMaintainer(spark, dir, cells = 4)
    assert(c.centroids.get.length == 16, "default compaction carries the retrain")
    assert(fullProbe(c) == brute(live1))
    // explicit cell count wins over auto (fresh delta first — compaction
    // reads the current base, so it must land in a NEW c-dir)
    val v300 = vec()
    c.processBatch(Seq((300L, v300)).toDF("vec_id", "embedding"), 4L)
    val live2 = live1 :+ (300L -> v300)
    assert(Compaction.compactAnn(spark, dir, retrainCells = 8) == 4L)
    val e = new LiveAnnMaintainer(spark, dir, cells = 4)
    assert(e.centroids.get.length == 8)
    assert(fullProbe(e) == brute(live2))
  }

  test("LiveEngineMaintainer: tombstone deletes mask version-ordered, count exactly, and erase physically at compaction") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-live-del").toString
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    m.processBatch(df(Seq(
      (1L, "alpha beta", "en", "s1", 10),
      (2L, "alpha gamma", "en", "s1", 11),
      (3L, "beta gamma secret", "en", "s2", 17))), 0L)
    m.processBatch(df(Seq((4L, "alpha beta gamma", "en", "s2", 16))), 1L)
    // v2: delete 2 and 3 (9 was never ingested — harmless no-op marker)
    m.processDeletes(Seq(2L, 9L, 3L).toDF("doc_id"), 2L)
    // v3: RE-ingest doc 3 with new text — the tombstone (v2) must not
    // mask rows from a LATER version
    m.processBatch(df(Seq((3L, "delta alpha", "en", "s2", 11))), 3L)

    val current = Seq(
      (1L, "alpha beta", "en", "s1", 10),
      (4L, "alpha beta gamma", "en", "s2", 16),
      (3L, "delta alpha", "en", "s2", 11))
    val ref = new WikiSearchEngine(spark,
      graft.ingest.IndexBuilder.fromDocumentsTable(spark, df(current), 2))
    def ids(e: WikiSearchEngine, q: String) =
      e.run(q).select("docId").collect().map(_.getString(0)).toSet
    val queries = Seq(
      "TEXT == 'alpha'",          // 2 deleted, others live
      "TEXT == 'gamma'",          // 2 and OLD 3 dead, 4 lives
      "TEXT == 'secret'",         // only in deleted doc 3's old body → empty
      "TEXT == 'delta'",          // only in resurrected doc 3 → {3}
      "TEXT == 'alpha' and TEXT == 'beta'")
    def check(live: WikiSearchEngine, tag: String): Unit =
      for (q <- queries) assert(ids(live, q) == ids(ref, q), s"$tag: $q")
    val live = new WikiSearchEngine(spark, m.latestIndex.get)
    check(live, "merge-on-read")
    assert(ids(live, "TEXT == 'secret'").isEmpty)
    assert(ids(live, "TEXT == 'delta'") == Set("3"))

    // count-only serving stays EXACT: deleted uids are dropped from the
    // exact index rows at fold scope, so the zero-job fast path cannot
    // overcount
    def cnt(e: WikiSearchEngine, q: String) =
      e.countDocs(q).collect()(0).getLong(0)
    for (q <- queries)
      assert(cnt(live, q) == ids(ref, q).size.toLong, s"count: $q")

    // compaction applies tombstones PHYSICALLY: serving is unchanged,
    // the base's tombstone part is empty, and no byte of the deleted
    // body survives in any base file
    assert(Compaction.compactEngine(spark, dir) == 3L)
    val rec = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    check(new WikiSearchEngine(spark, rec.latestIndex.get), "compacted")
    assert(spark.read.parquet(s"$dir/c3/tombstones").isEmpty)
    val baseDocs = spark.read.parquet(s"$dir/c3/documents")
      .select(unbase64(col("textB64")).cast("string").as("t"))
      .collect().map(_.getString(0))
    assert(!baseDocs.exists(_.contains("secret")))
    assert(spark.read.parquet(s"$dir/c3/global")
      .filter(col("fieldValue") === "secret").isEmpty)
    assert(spark.read.parquet(s"$dir/c3/documents")
      .filter(col("docId") === "2").isEmpty)

    // deletes keep working after compaction (tombstone v4 masks base
    // rows, whose provenance version is the base's c3)
    rec.processDeletes(Seq(4L).toDF("doc_id"), 4L)
    val live4 = new WikiSearchEngine(spark, rec.latestIndex.get)
    assert(ids(live4, "TEXT == 'gamma'").isEmpty) // only doc 4 carried gamma
    assert(ids(live4, "TEXT == 'alpha'") == Set("1", "3"))
  }

  test("mixed round-8/round-9 postings schemas: dl column drops at read, BM25 stays exact, compaction persists a complete dl") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-mixed-dl").toString
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val b0 = Seq(
      (1L, "alpha beta gamma delta", "en", "s1", 22),
      (2L, "alpha alpha beta", "en", "s1", 16))
    val b1 = Seq(
      (3L, "beta gamma", "de", "s2", 10),
      (4L, "alpha epsilon zeta eta theta iota", "en", "s2", 33))
    val m0 = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    m0.processBatch(df(b0), 0L)
    m0.processBatch(df(b1), 1L)
    // Simulate a ROUND-8 v0 beside a round-9 v1: strip v0's postings of
    // the denormalized dl column and remove v0's derived parts entirely.
    val p0 = s"$dir/v0/postings"
    val legacyRows = spark.read.parquet(p0).drop("dl").collect().toSeq
    val legacySchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(p0).drop("dl").schema.fields)
    spark.createDataFrame(
        spark.sparkContext.parallelize(legacyRows, 1), legacySchema)
      .write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .parquet(p0)
    for (p <- LiveEngineMaintainer.DerivedParts)
      VersionedState.deleteRecursively(new java.io.File(s"$dir/v0/$p"))

    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    val ix = m.latestIndex.get
    // the coverage rule must REFUSE the partially-covered dl column
    // (serving it would score the v0 docs' null dl as 0)
    assert(!ix.termPostings.columns.contains("dl"),
      "partially-covered dl must not serve")
    val ref = new WikiSearchEngine(spark,
      graft.ingest.IndexBuilder.fromDocumentsTable(spark, df(b0 ++ b1), 2))
    val live = new WikiSearchEngine(spark, ix)
    val tie = col("docId").cast("bigint")
    def ranked(e: WikiSearchEngine) =
      e.rank(Seq("alpha", "beta"), tieBreak = tie).collect().map(_.toSeq).toSeq
    assert(ranked(live) == ranked(ref),
      "BM25 over the mixed store must fall back to the doc_lengths join, not score 0")

    // compaction graduates the base to a COMPLETE dl (no nulls), and
    // ranked serving over the compacted store reads it directly
    assert(Compaction.compactEngine(spark, dir) == 1L)
    val basePosts = spark.read.parquet(s"$dir/c1/postings")
    assert(basePosts.columns.contains("dl"), "compacted base must carry dl")
    assert(basePosts.filter(col("dl").isNull).isEmpty,
      "compacted base must not persist null dl")
    val cIx = new LiveEngineMaintainer(spark, dir, numPartitions = 2).latestIndex.get
    assert(cIx.termPostings.columns.contains("dl"),
      "a uniformly-covered (compacted) store serves dl")
    assert(ranked(new WikiSearchEngine(spark, cIx)) == ranked(ref))
  }

  test("live stores serve field-generic proximity: declared field_postings deltas, rebuild fallback, deletes, compaction") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-live-fld").toString
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    // HEAD = first three whitespace tokens, declared positional
    val head = concat_ws(" ",
      slice(graft.functions.TextFunctions.tokenizeWs(col("text")), 1, 3))
    def maintainer() = new LiveEngineMaintainer(spark, dir, numPartitions = 2,
      extraFields = Map("HEAD" -> head), offsetsFields = Set("HEAD"))
    val b0 = Seq(
      (1L, "alpha beta gamma delta", "en", "s1", 22),
      (2L, "beta alpha gamma", "en", "s1", 16))
    val b1 = Seq(
      (3L, "alpha gamma beta zeta", "de", "s2", 21),
      (4L, "gamma delta alpha beta", "en", "s2", 22))
    val m = maintainer()
    m.processBatch(df(b0), 0L)
    m.processBatch(df(b1), 1L)
    assert(new java.io.File(s"$dir/v1/field_postings/_SUCCESS").exists(),
      "declared builds must write the field_postings delta")

    def ref(rows: Seq[(Long, String, String, String, Int)]) =
      new WikiSearchEngine(spark, graft.ingest.IndexBuilder.fromDocumentsTable(
        spark, df(rows), 2, extraFields = Map("HEAD" -> head),
        offsetsFields = Set("HEAD")))
    def ids(e: WikiSearchEngine, q: String) =
      e.run(q).select("docId").collect().map(_.getString(0)).toSet
    val queries = Seq(
      "f:onear(HEAD, 1, 'alpha', 'beta')",  // adjacency within the head
      "f:near(HEAD, 2, 'beta', 'alpha')",   // unordered window
      "f:phrase(HEAD, 'alpha gamma')",
      "TEXT == 'delta' and f:onear(HEAD, 2, 'alpha', 'gamma')")
    def check(e: WikiSearchEngine, r: WikiSearchEngine, tag: String): Unit =
      for (q <- queries) assert(ids(e, q) == ids(r, q), s"$tag: $q")

    val refAll = ref(b0 ++ b1)
    check(new WikiSearchEngine(spark, m.latestIndex.get), refAll, "stored deltas")

    // coverage rule: a read set missing the part anywhere REBUILDS from
    // core data (a store written before the part existed)
    VersionedState.deleteRecursively(new java.io.File(s"$dir/v0/field_postings"))
    check(new WikiSearchEngine(spark, maintainer().latestIndex.get), refAll,
      "rebuild fallback")

    // tombstones mask the positional rows version-ordered
    val m2 = maintainer()
    m2.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 2L)
    val refAlive = ref(b0.filterNot(_._1 == 1L) ++ b1)
    check(new WikiSearchEngine(spark, m2.latestIndex.get), refAlive, "deleted")

    // compaction rebuilds the part in the base (metadata-driven), and a
    // maintainer WITHOUT the declarations still serves the store — the
    // catalog, not the constructor, says which fields are positional
    assert(Compaction.compactEngine(spark, dir) == 2L)
    assert(new java.io.File(s"$dir/c2/field_postings/_SUCCESS").exists())
    val undeclared = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    check(new WikiSearchEngine(spark, undeclared.latestIndex.get), refAlive,
      "compacted, undeclared reader")
  }

  test("live stores carry synonyms as store-level state: rehydrated by fresh sessions, surviving compaction, first writer wins") {
    import graft.query.WikiSearchEngine
    val dir = java.nio.file.Files.createTempDirectory("graft-live-syn").toString
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Seq(
      (1L, "spark join table", "en", "s1", 16),
      (2L, "vector join table", "en", "s1", 17), // hits only via spark→vector
      (3L, "spark scan", "en", "s2", 10),
      (4L, "merge join spark", "en", "s2", 16))  // excluded only via hash→merge
    val syn = Map("spark" -> Seq("vector"), "hash" -> Seq("merge"))
    val q = "TEXT == 'spark' and TEXT == 'join' and TEXT != 'hash'"
    def ids(e: WikiSearchEngine) =
      e.run(q).select("docId").collect().map(_.getString(0)).toSet

    val writer = new LiveEngineMaintainer(spark, dir, numPartitions = 2,
      synonyms = syn)
    writer.processBatch(df(docs.take(2)), 0L)
    writer.processBatch(df(docs.drop(2)), 1L)
    // expanded semantics: doc 1 (direct), doc 2 (spark→vector); doc 4
    // excluded (hash→merge); doc 3 lacks 'join'
    val expanded = Set("1", "2")
    assert(ids(new WikiSearchEngine(spark, writer.latestIndex.get)) == expanded)

    // a FRESH maintainer with no synonym wiring rehydrates from the store
    val reader = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(ids(new WikiSearchEngine(spark, reader.latestIndex.get)) == expanded,
      "fresh session must serve the stored synonym semantics")
    // ... and so do historical snapshots
    assert(ids(new WikiSearchEngine(spark, reader.indexAt(0L).get)) == Set("1", "2"),
      "snapshots carry the store's synonym table too")

    // first writer wins: a maintainer declaring a DIFFERENT table on an
    // existing store must not overwrite the persisted semantics
    val usurper = new LiveEngineMaintainer(spark, dir, numPartitions = 2,
      synonyms = Map("spark" -> Seq("scan")))
    assert(ids(new WikiSearchEngine(spark, usurper.latestIndex.get)) == expanded,
      "store configuration is write-once")

    // store-level state survives a sweep-everything compaction
    Compaction.compactEngine(spark, dir)
    val postCompact = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(ids(new WikiSearchEngine(spark, postCompact.latestIndex.get)) == expanded,
      "compaction must not drop the synonyms table")
  }

  test("LiveAnnMaintainer: incremental assignment under frozen centroids equals batch assignment") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-live-ann").toString
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val vecs = (0L until 30L).map(i => (i, vec()))
    val batches = vecs.grouped(10).toSeq
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, iters = 2)
    batches.zipWithIndex.foreach { case (b, i) =>
      m.processBatch(b.toDF("vec_id", "embedding"), i.toLong)
    }
    assert(m.latestVersion == 2L)

    // same frozen codebook + batch assignment of the union corpus
    val cents = m.centroids.get
    val ref = Similarity.IvfIndex(cents,
      Similarity.assignIvf(cents, vecs.toDF("vec_id", "embedding")))
    val queries = (1000L until 1003L).map(i => (i, vec())).toDF("vec_id", "embedding")
    def topk(ix: Similarity.IvfIndex) =
      Similarity.ivfTopKWith(ix, queries, k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = topk(ref)
    assert(topk(m.latestIndex.get) == want && want.nonEmpty)

    // deltas hold only their batch's assignments; compaction
    // concatenates and serves identically; ingest continues on top
    assert(spark.read.parquet(s"$dir/v1/assigned")
      .select("vec_id").collect().map(_.getLong(0)).toSet == (10L until 20L).toSet)
    assert(Compaction.compactAnn(spark, dir) == 2L)
    assert(!new java.io.File(s"$dir/v0").exists())
    val recovered = new LiveAnnMaintainer(spark, dir, cells = 4)
    assert(topk(recovered.latestIndex.get) == want)
    val extra = (30L until 35L).map(i => (i, vec()))
    recovered.processBatch(extra.toDF("vec_id", "embedding"), 3L)
    val ref2 = Similarity.IvfIndex(cents,
      Similarity.assignIvf(cents, (vecs ++ extra).toDF("vec_id", "embedding")))
    assert(topk(recovered.latestIndex.get) == topk(ref2))
  }

  test("LiveAnnMaintainer: live IVF-PQ — incremental codes under frozen books serve like a batch encode, deletes mask codes too") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-live-ivfpq").toString
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val vecs = (0L until 30L).map(i => (i, vec()))
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, iters = 2, pqM = 4, pqK = 4)
    vecs.grouped(10).zipWithIndex.foreach { case (b, i) =>
      m.processBatch(b.toDF("vec_id", "embedding"), i.toLong)
    }
    // frozen artifacts + one-shot encode/assign of the union corpus:
    // row-identical by per-vector determinism, so IVF-PQ serving over
    // the live store must equal the batch composition exactly
    val cents = m.centroids.get
    val books = m.pqBooks.get
    val union = vecs.toDF("vec_id", "embedding")
    def refIdx(emb: org.apache.spark.sql.DataFrame) = (
      Similarity.IvfIndex(cents, Similarity.assignIvf(cents, emb)),
      Similarity.PqIndex(books, Similarity.encodePq(books, emb)))
    val queries = (1000L until 1003L).map(i => (i, vec())).toDF("vec_id", "embedding")
    def serve(ivf: Similarity.IvfIndex, pq: Similarity.PqIndex) =
      Similarity.ivfPqTopK(ivf, pq, queries, k = 3, nprobe = 2, shortlist = 8)
        .collect().map(_.toSeq).toSeq
    val (refIvf, refPq) = refIdx(union)
    val want = serve(refIvf, refPq)
    assert(serve(m.latestIndex.get, m.latestPq.get) == want && want.nonEmpty)
    // a delete masks the vector out of BOTH assignments and codes...
    m.processDeletes(Seq(Tuple1(3L)).toDF("vec_id"), 3L)
    assert(!m.latestPq.get.codes.select("vec_id")
      .collect().map(_.getLong(0)).contains(3L))
    val (dIvf, dPq) = refIdx(vecs.filterNot(_._1 == 3L).toDF("vec_id", "embedding"))
    val wantDel = serve(dIvf, dPq)
    assert(serve(m.latestIndex.get, m.latestPq.get) == wantDel)
    // ...and compaction erases it physically from the codes base while
    // preserving serving (books are store-level state, untouched)
    assert(Compaction.compactAnn(spark, dir) == 3L)
    val rec = new LiveAnnMaintainer(spark, dir, cells = 4, pqM = 4, pqK = 4)
    assert(spark.read.parquet(s"$dir/c3/codes")
      .select("vec_id").collect().map(_.getLong(0)).toSet ==
      vecs.map(_._1).toSet - 3L)
    assert(serve(rec.latestIndex.get, rec.latestPq.get) == wantDel)
  }

  test("LiveAnnMaintainer: vector tombstones mask version-ordered and erase at compaction") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-live-ann-del").toString
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextFloat())
    val vecs = (0L until 20L).map(i => (i, vec()))
    val m = new LiveAnnMaintainer(spark, dir, cells = 4, iters = 2)
    m.processBatch(vecs.take(10).toDF("vec_id", "embedding"), 0L)
    m.processBatch(vecs.drop(10).toDF("vec_id", "embedding"), 1L)
    // v2: delete 3, 7, 15; v3: RE-embed 7 (new vector — must resurrect)
    m.processDeletes(Seq(3L, 7L, 15L).toDF("vec_id"), 2L)
    val re7 = (7L, vec())
    m.processBatch(Seq(re7).toDF("vec_id", "embedding"), 3L)

    val cents = m.centroids.get
    val liveVecs = vecs.filterNot(v => Set(3L, 7L, 15L)(v._1)) :+ re7
    val ref = Similarity.IvfIndex(cents,
      Similarity.assignIvf(cents, liveVecs.toDF("vec_id", "embedding")))
    val queries = (1000L until 1004L).map(i => (i, vec())).toDF("vec_id", "embedding")
    def topk(ix: Similarity.IvfIndex) =
      Similarity.ivfTopKWith(ix, queries, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = topk(ref)
    assert(topk(m.latestIndex.get) == want && want.nonEmpty)
    // the served store holds exactly the live vec_ids
    assert(m.latestIndex.get.assigned.select("vec_id").collect()
      .map(_.getLong(0)).toSet == liveVecs.map(_._1).toSet)

    // compaction: physical erasure, clean tombstone part, serving intact
    assert(Compaction.compactAnn(spark, dir) == 3L)
    assert(spark.read.parquet(s"$dir/c3/tombstones").isEmpty)
    assert(spark.read.parquet(s"$dir/c3/assigned").filter(col("vec_id").isin(3L, 15L)).isEmpty)
    val recovered = new LiveAnnMaintainer(spark, dir, cells = 4)
    assert(topk(recovered.latestIndex.get) == want)
    // deletes keep working against the compacted base
    recovered.processDeletes(Seq(0L).toDF("vec_id"), 4L)
    assert(recovered.latestIndex.get.assigned.filter(col("vec_id") === 0L).isEmpty)
  }

  test("LiveIndexMaintainer commits recoverable snapshots even when _SUCCESS markers are disabled globally") {
    // Object-store deployments commonly set this conf false session-wide;
    // the maintainer's commit protocol keys on _SUCCESS, so it must force
    // the marker on its own snapshot writes or recovery goes blind.
    implicit val sqlCtx = spark.sqlContext
    val hconf = spark.sparkContext.hadoopConfiguration
    val key   = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val saved = hconf.get(key)
    hconf.set(key, "false")
    try {
      val dir  = java.nio.file.Files.createTempDirectory("graft-live-nosucc").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-live-nosucc-ckpt").toString
      val input = MemoryStream[(Long, String, String, String, Int)]
      val docsStream = input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      val maintainer = new LiveIndexMaintainer(spark, dir, numPartitions = 2)
      val q = maintainer.attach(docsStream, ckpt)
      try {
        input.addData((1L, "alpha beta", "en", "s1", 10))
        q.processAllAvailable()
      } finally q.stop()
      assert(new java.io.File(s"$dir/v0/_SUCCESS").exists(),
        "snapshot write must force the _SUCCESS marker")
      val recovered = new LiveIndexMaintainer(spark, dir, numPartitions = 2)
      assert(recovered.latestVersion == 0L)
      assert(recovered.latest.get.count() > 0)
    } finally {
      if (saved == null) hconf.unset(key) else hconf.set(key, saved)
    }
  }

  test("autoCompactEvery: maintainers self-compact at the dial, reads stay identical, deletes erase") {
    // --- index maintainer: delta count never exceeds the dial, the
    // merged read equals a from-scratch batch build throughout ---
    val dir = java.nio.file.Files.createTempDirectory("graft-auto-compact").toString
    val m = new LiveIndexMaintainer(spark, dir, numPartitions = 2, autoCompactEvery = 2)
    val docs = Seq(
      (1L, "alpha beta", "en", "s1", 10),
      (2L, "beta gamma", "en", "s1", 10),
      (3L, "gamma delta", "de", "s2", 11),
      (4L, "delta alpha", "en", "s1", 11),
      (5L, "epsilon alpha", "en", "s1", 13))
    docs.zipWithIndex.foreach { case (d, i) =>
      m.processBatch(Seq(d).toDF("doc_id", "text", "lang", "source", "n_chars"), i.toLong)
      // the policy bounds PENDING deltas (the read set's fold depth —
      // deltas above the newest base) at every-1 after each batch;
      // already-subsumed dirs kept by the grace window don't count
      assert(VersionedState.readSet(dir, Nil, VersionedState.maxVersion(dir, Nil))._2.size < 2,
        s"pending deltas after batch $i")
    }
    def names = new java.io.File(dir).listFiles().map(_.getName).toSet
    // batches 0..4 at every=2: majors fired after batch 1 (→ c1) and
    // batch 3 (→ c3). The auto path keeps what the NEW base subsumes for
    // one reader-grace cycle and sweeps what the PREVIOUS base subsumed:
    // the c1 major had no predecessor (v0/v1 kept), the c3 major swept
    // them (subsumed by c1) while keeping v2/v3 and c1 itself; batch 4's
    // delta is pending. Readers resolved against the pre-c3 read set
    // (c1 + v2 + v3) still find every path alive.
    assert(names == Set("c1", "v2", "v3", "c3", "v4"), names.toString)
    assert(m.latestVersion == 4L)
    val batchBuilt = graft.ingest.IndexBuilder.buildGlobalIndex(
      graft.ingest.IndexBuilder.documentIndexRows(
        docs.toDF("doc_id", "text", "lang", "source", "n_chars"), 2))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("fieldValue"), col("fieldName"), col("partition"), col("language"),
        col("count"), array_sort(col("uids")).as("uids"), col("ignore"))
      .collect().map(_.toString).sorted.toSeq
    assert(canon(m.latest.get) == canon(batchBuilt))

    // --- engine maintainer: an auto-compaction doubles as the
    // tombstone eraser — no operator ran the CLI, yet the deleted doc
    // is physically gone from the folded base ---
    import graft.query.WikiSearchEngine
    val edir = java.nio.file.Files.createTempDirectory("graft-auto-engine").toString
    val em = new LiveEngineMaintainer(spark, edir, numPartitions = 2, autoCompactEvery = 2)
    em.processBatch(Seq(
      (1L, "alpha beta", "en", "s1", 10),
      (2L, "beta gamma", "en", "s1", 10)).toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    em.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 1L)
    // delta count hit the dial at the delete batch → base c1; the grace
    // window keeps the subsumed v0/v1 for one cycle (first major has no
    // predecessor base to sweep behind)
    val enames = new java.io.File(edir).listFiles().map(_.getName).toSet
    assert(enames == Set("v0", "v1", "c1"), enames.toString)
    assert(spark.read.parquet(s"$edir/c1/documents")
      .select("docId").collect().map(_.getString(0)).toSet == Set("2"))
    assert(spark.read.parquet(s"$edir/c1/tombstones").count() == 0L)
    val live = new WikiSearchEngine(spark, em.latestIndex.get)
    assert(live.run("TEXT == 'beta'", Nil)
      .select("docId").collect().map(_.getString(0)).toSet == Set("2"))
    // two more batches trigger the NEXT auto-major, whose grace sweep
    // deletes what c1 subsumed — the deleted doc's bytes (v0) are
    // physically gone at most one compaction cycle after the base that
    // erased them from the fold
    em.processBatch(Seq(
      (3L, "gamma beta", "en", "s1", 10)).toDF("doc_id", "text", "lang", "source", "n_chars"), 2L)
    em.processBatch(Seq(
      (4L, "delta beta", "en", "s1", 10)).toDF("doc_id", "text", "lang", "source", "n_chars"), 3L)
    val enames2 = new java.io.File(edir).listFiles().map(_.getName).toSet
    assert(enames2 == Set("c1", "v2", "v3", "c3"), enames2.toString)
    val live2 = new WikiSearchEngine(spark, em.latestIndex.get)
    assert(live2.run("TEXT == 'beta'", Nil)
      .select("docId").collect().map(_.getString(0)).toSet == Set("2", "3", "4"))
  }

  test("live store fuzz: random ingest/delete/compaction sequences serve like a batch build") {
    // Metamorphic property over the whole LSM algebra: for ANY op
    // sequence (ingest fresh docs, delete live docs, re-ingest deleted
    // ones, auto- or manual compaction at any cadence), a
    // WikiSearchEngine over the live store must answer every access
    // path exactly like a from-scratch batch build over the docs a
    // sequential replay leaves alive. Seeds are fixed — failures
    // reproduce.
    import graft.query.WikiSearchEngine
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val langs = Vector("en", "de")
    val queries = Seq(
      "TEXT == 'alpha'",
      "TEXT == 'alpha' and TEXT == 'beta'",
      "TEXT == 'beta' or TEXT == 'zeta'",
      "TEXT =~ 'de.*'",
      "f:near(TEXT, 3, 'alpha', 'gamma')")
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val dial = rnd.nextInt(3) // 0 = manual compaction, else auto
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-live-fuzz-$seed").toString
      val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2,
        autoCompactEvery = dial)
      var alive = Map.empty[Long, (String, String)] // id -> (text, lang)
      var dead  = Set.empty[Long]
      var nextId = 1L
      def docRow(id: Long) = {
        val (text, lang) = alive(id)
        (id, text, lang, "s1", text.length)
      }
      for (batchId <- 0L until 7L) {
        val doDelete = alive.nonEmpty && rnd.nextInt(3) == 0
        if (doDelete) {
          val ids = rnd.shuffle(alive.keys.toSeq).take(1 + rnd.nextInt(2)) ++
            (if (rnd.nextBoolean()) Seq(999L) else Nil) // unseen id: masks nothing
          m.processDeletes(ids.map(Tuple1(_)).toDF("doc_id"), batchId)
          alive --= ids; dead ++= ids.filterNot(_ == 999L)
        } else {
          val ids = (0 until 1 + rnd.nextInt(2)).map { _ =>
            // re-ingest a previously deleted doc half the time it can:
            // a tombstone must not outlive a LATER ingest (resurrection)
            if (dead.nonEmpty && rnd.nextBoolean()) {
              val id = dead.head; dead -= id; id
            } else { val id = nextId; nextId += 1; id }
          }
          ids.foreach { id =>
            val text = (0 until 3 + rnd.nextInt(3))
              .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
            alive += id -> (text, langs(rnd.nextInt(langs.size)))
          }
          m.processBatch(ids.map(docRow).toDF(
            "doc_id", "text", "lang", "source", "n_chars"), batchId)
        }
        if (dial > 0)
          // commit detection keys on the CORE parts (deltas carry the
          // derived parts only when the build declares them)
          assert(VersionedState.readSet(dir, LiveEngineMaintainer.CoreParts,
            VersionedState.maxVersion(dir, LiveEngineMaintainer.CoreParts))._2.size < dial,
            s"seed=$seed dial=$dial batch=$batchId pending deltas")
        else if (batchId == 3L) { // mid-sequence manual major, then a re-run with no new delta
          Compaction.compactEngine(spark, dir)
          Compaction.compactEngine(spark, dir)
        }
      }
      val expected = alive.keys.toSeq.sorted.map(docRow)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val ref = new WikiSearchEngine(spark,
        graft.ingest.IndexBuilder.fromDocumentsTable(spark, expected, 2))
      val live = new WikiSearchEngine(spark, m.latestIndex.get)
      def ids(e: WikiSearchEngine, q: String, auths: Seq[String]) =
        e.run(q, auths).select("docId").collect().map(_.getString(0)).toSet
      for (q <- queries; auths <- Seq(Nil, Seq("de")))
        assert(ids(live, q, auths) == ids(ref, q, auths),
          s"seed=$seed dial=$dial auths=$auths: $q")
    }
  }

  test("incremental index merge preserves lossy UidList semantics") {
    def gi(rows: Seq[(String, String, Int, String, Long, Seq[String], Boolean)]) =
      rows.toDF("fieldValue", "fieldName", "partition", "language", "count", "uids", "ignore")

    val base  = gi(Seq(("spark", "TEXT", 0, "en", 2L, Seq("1", "2"), false)))
    val delta = gi(Seq(
      ("spark", "TEXT", 0, "en", 1L, Seq("3"), false),
      ("flink", "TEXT", 0, "en", 1L, Seq("9"), false)))
    val merged = IncrementalIndex.merge(base, delta)
      .as[(String, String, Int, String, Long, Seq[String], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(merged("spark")._5 == 3L && merged("spark")._6.toSet == Set("1", "2", "3"))
    assert(merged("flink")._5 == 1L)

    // overflow: 15 + 10 distinct uids > 20 → ignore
    val big1 = gi(Seq(("hot", "TEXT", 0, "en", 15L, (1 to 15).map(_.toString), false)))
    val big2 = gi(Seq(("hot", "TEXT", 0, "en", 10L, (16 to 25).map(_.toString), false)))
    val hot = IncrementalIndex.merge(big1, big2)
      .as[(String, String, Int, String, Long, Seq[String], Boolean)].collect().head
    assert(hot._5 == 25L && hot._6.isEmpty && hot._7)
  }

  test("LiveSketchMaintainer: live CMS equals the batch sketch under any split; time travel, restart, compaction") {
    import graft.functions.Sketches
    val (d, w) = (4, 64)
    val cmsU = udaf(new Sketches.CmsAggregator(d, w))
    val all = (1L to 3000L).map(i => i % 113).toDF("user_id")
    val batchSketch = all
      .agg(cmsU(col("user_id")).as("sk"))
      .head.getSeq[Long](0).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft-live-sk").toString
    val writer = new LiveSketchMaintainer(spark, dir, d, w)
    (0 until 3).foreach(b =>
      writer.processBatch(all.filter(pmod(col("user_id"), lit(3)) === b), b.toLong))
    // associativity: merged deltas == the one-pass batch sketch, bit-exact
    assert(writer.cmsAt() == batchSketch)

    // a DIFFERENT split of the same rows commits the same merged sketch
    val dir2 = java.nio.file.Files.createTempDirectory("graft-live-sk2").toString
    val w2 = new LiveSketchMaintainer(spark, dir2, d, w)
    Seq(0, 1).foreach(b =>
      w2.processBatch(all.filter(pmod(col("user_id"), lit(2)) === b), b.toLong))
    assert(w2.cmsAt() == batchSketch)

    // time travel: version 1 covers batches 0-1 only
    val upTo1 = all.filter(pmod(col("user_id"), lit(3)) < 2)
      .agg(cmsU(col("user_id")).as("sk"))
      .head.getSeq[Long](0).toSeq
    assert(writer.cmsAt(1L) == upTo1)

    // restart recovery: a fresh maintainer rediscovers the version and sketch
    val reader = new LiveSketchMaintainer(spark, dir, d, w)
    assert(reader.latestVersion == 2L && reader.cmsAt() == batchSketch)

    // compaction folds to one base; a fresh reader still serves the
    // identical sketch, and the deltas are swept
    writer.compact()
    val post = new LiveSketchMaintainer(spark, dir, d, w)
    assert(post.cmsAt() == batchSketch)
    assert(!new java.io.File(dir, "v0").exists() && new java.io.File(dir, "c2").exists())
    // ingest continues past the base
    post.processBatch(Seq(999L).toDF("user_id"), 3L)
    val withMore = post.cmsAt()
    (0 until d).foreach { j =>
      assert(withMore(j * w + Sketches.cmsBucket(999L, j, w)) ==
        batchSketch(j * w + Sketches.cmsBucket(999L, j, w)) + 1)
    }
    // estimates off the live sketch stay one-sided (>= exact)
    assert(Sketches.cmsEstimate(withMore, 999L, d, w) >= 1L)
  }

  test("VersionedState over a file: URI store dir — commit discovery, reads, compaction and sweep all through Hadoop FS") {
    // the object-store portability seam: the store dir is a URI, not a
    // POSIX path — version listing, _SUCCESS probes, and sweeps must
    // resolve through org.apache.hadoop.fs.FileSystem (a java.io.File
    // probe would silently see nothing and re-ingest forever)
    import graft.functions.Sketches
    val (d, w) = (4, 64)
    val raw = java.nio.file.Files.createTempDirectory("graft-uri-sk").toString
    val dir = "file:" + raw
    val all = (1L to 800L).map(i => i % 53).toDF("user_id")
    val cmsU = udaf(new Sketches.CmsAggregator(d, w))
    val batchSketch = all
      .agg(cmsU(col("user_id")).as("sk"))
      .head.getSeq[Long](0).toSeq
    val m = new LiveSketchMaintainer(spark, dir, d, w)
    (0 until 2).foreach(b =>
      m.processBatch(all.filter(pmod(col("user_id"), lit(2)) === b), b.toLong))
    assert(m.cmsAt() == batchSketch)
    // replay of a committed id must be detected THROUGH the URI (the
    // skip probe is the seam java.io.File could not see)
    m.processBatch(all.limit(5), 1L)
    assert(m.cmsAt() == batchSketch)
    // a fresh maintainer rediscovers versions by listing the URI
    val r = new LiveSketchMaintainer(spark, dir, d, w)
    assert(r.latestVersion == 1L && r.cmsAt() == batchSketch)
    // compaction folds and SWEEPS through the same FileSystem
    m.compact()
    assert(!new java.io.File(raw, "v0").exists() &&
      new java.io.File(raw, "c1").exists())
    assert(new LiveSketchMaintainer(spark, dir, d, w).cmsAt() == batchSketch)
  }

  test("LiveSketchMaintainer.attach: a MemoryStream-fed CMS store equals the batch sketch; replayed ids are no-ops") {
    import graft.functions.Sketches
    val (d, w) = (4, 64)
    val cmsU = udaf(new Sketches.CmsAggregator(d, w))
    val dir = java.nio.file.Files.createTempDirectory("graft-live-sk-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-live-sk-ckpt").toString
    val m = new LiveSketchMaintainer(spark, dir, d, w)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = m.attach(input.toDF.withColumnRenamed("value", "user_id"), ckpt)
    try {
      input.addData(1L to 1000L); q.processAllAvailable()
      input.addData(1001L to 1500L); q.processAllAvailable()
      input.addData((1L to 200L).map(_ % 7)); q.processAllAvailable()
    } finally q.stop()
    val all = ((1L to 1500L) ++ (1L to 200L).map(_ % 7)).toDF("user_id")
    val batch = all.agg(cmsU(col("user_id")).as("sk")).head.getSeq[Long](0).toSeq
    assert(m.cmsAt() == batch)
    // an explicit replay of a committed id is a no-op, not a corruption
    m.processBatch(Seq(999999L).toDF("user_id"), m.latestVersion)
    assert(m.cmsAt() == batch)
  }

  test("LiveDsirModelMaintainer: merged count deltas equal the one-pass table; model, time travel, compaction, replay") {
    import graft.pipeline.Curation
    val docs = (1L to 300L).map(i =>
      (i, s"w${i % 13} w${i % 7} w${i % 29} common", if (i % 4 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val onePass = counts(Curation.dsirCounts(docs, col("lang") === "en"))

    val dir = java.nio.file.Files.createTempDirectory("graft-live-dsirm").toString
    val writer = new LiveDsirModelMaintainer(spark, dir)
    (0 until 3).foreach(b =>
      writer.processBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
        col("lang") === "en", b.toLong))
    assert(counts(writer.countsAt().get) == onePass)

    // the derived model matches the batch derivation exactly
    def model(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(model(writer.modelAt().get) ==
      model(Curation.dsirModel(Curation.dsirCounts(docs, col("lang") === "en"))))

    // time travel: version 0 covers batch 0's vocabulary only
    val b0 = counts(Curation.dsirCounts(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), col("lang") === "en"))
    assert(counts(writer.countsAt(0L).get) == b0)

    // replay of a committed id is a no-op
    writer.processBatch(docs.limit(5), col("lang") === "en", 2L)
    assert(counts(writer.countsAt().get) == onePass)

    // compaction folds to one base (distributed sum); fresh reader agrees
    writer.compact()
    val post = new LiveDsirModelMaintainer(spark, dir)
    assert(counts(post.countsAt().get) == onePass)
    assert(!new java.io.File(dir, "v0").exists() && new java.io.File(dir, "c2").exists())
    // ingest continues past the base: a new doc's tokens merge in
    post.processBatch(Seq((9999L, "zebra common", "en")).toDF("doc_id", "text", "lang"),
      col("lang") === "en", 3L)
    val m = counts(post.countsAt().get).map { case (t, c, ct) => t -> (c, ct) }.toMap
    assert(m("zebra") == ((1L, 1L)))
    assert(m("common")._1 == onePass.find(_._1 == "common").get._2 + 1)
  }

  test("LiveQuantileMaintainer: per-group live sample equals the batch sketch; time travel and compaction preserve it") {
    import graft.functions.Sketches
    val k = 64
    val rows = (1L to 5000L).map(i =>
      (if (i % 2 == 0) "a" else "b", i, (graft.pipeline.Dedup.mix64(i) % 500).toDouble))
      .toDF("g", "key", "v")
    val bkq = udaf(new Sketches.BottomKQuantiles(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Double)]())
    val batch = rows.groupBy("g").agg(bkq(col("key"), col("v")).as("sk"))
      .select(col("g"), col("sk.n_sample"), col("sk.p50"), col("sk.p90"), col("sk.p99"))
      .collect().map(r => r.getString(0) ->
        Sketches.QsOut(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap

    val dir = java.nio.file.Files.createTempDirectory("graft-live-bkq").toString
    val writer = new LiveQuantileMaintainer(spark, dir, k)
    (0 until 3).foreach(b =>
      writer.processBatch(rows.filter(pmod(col("key"), lit(3)) === b), b.toLong))
    assert(writer.quantilesAt() == batch)

    // time travel: version 0 covers batch 0 only
    val batch0 = rows.filter(pmod(col("key"), lit(3)) === 0)
      .groupBy("g").agg(bkq(col("key"), col("v")).as("sk"))
      .select(col("g"), col("sk.n_sample"), col("sk.p50"), col("sk.p90"), col("sk.p99"))
      .collect().map(r => r.getString(0) ->
        Sketches.QsOut(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(writer.quantilesAt(0L) == batch0)

    // restart + compaction: fold to one base, sweep deltas, still identical
    writer.compact()
    val post = new LiveQuantileMaintainer(spark, dir, k)
    assert(post.quantilesAt() == batch)
    assert(!new java.io.File(dir, "v0").exists() && new java.io.File(dir, "c2").exists())
    // the base holds PARTIALS, so ingest keeps merging past it: adding
    // rows of a fresh group appears; old groups' samples are unchanged
    post.processBatch(Seq(("c", 100001L, 7.0)).toDF("g", "key", "v"), 3L)
    val more = post.quantilesAt()
    assert(more("c") == Sketches.QsOut(1L, 7.0, 7.0, 7.0))
    assert(more("a") == batch("a") && more("b") == batch("b"))
  }
  test("metamorphic asOf property: random query x random committed version equals a replayed-prefix oracle engine") {
    // ws_asof_q pins ONE schedule on the correctness gate; this property
    // covers the ALGEBRA — random interleavings of ingest, delete,
    // RE-ingest (resurrection), and a mid-stream compaction, probed at
    // every committed version by random boolean queries. The oracle is
    // a fresh BATCH engine built from the simulated prefix state (the
    // docs logically live as of that version), so any divergence is an
    // LSM bug: a tombstone masking the wrong version span, a re-ingest
    // lost under a mask, a base+delta union serving rows a snapshot
    // should not see. Seeded - failures reproduce.
    import graft.query.WikiSearchEngine
    import graft.ingest.IndexBuilder
    val rnd = new scala.util.Random(42)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def word() = vocab(rnd.nextInt(vocab.size))
    def docRow(id: Long): (Long, String, String, String, Int) = {
      val text = Seq.fill(3 + rnd.nextInt(5))(word()).mkString(" ")
      (id, text, if (id % 2 == 0) "en" else "de", s"s${1 + rnd.nextInt(2)}", text.length)
    }
    def leaf(): String = rnd.nextInt(4) match {
      case 0 => s"TEXT == '${word()}'"
      case 1 => s"SOURCE == 's${1 + rnd.nextInt(2)}'"
      case 2 => s"NCHARS >= ${15 + rnd.nextInt(20)}"
      case 3 => s"TEXT =~ '${word().take(3)}.*'"
    }
    def query(): String = rnd.nextInt(4) match {
      case 0 => leaf()
      case 1 => s"(${leaf()} and ${leaf()})"
      case 2 => s"(${leaf()} or ${leaf()})"
      case 3 => s"(${leaf()} and not ${leaf()})"
    }
    var checked = 0
    (0 until 2).foreach { s =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-asof-prop$s").toString
      val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
      var live = Map.empty[Long, (Long, String, String, String, Int)]
      var dead = Set.empty[Long] // tombstoned ids, eligible for resurrection
      var nextId = 1L
      val states = scala.collection.mutable.Map
        .empty[Long, Map[Long, (Long, String, String, String, Int)]]
      var base = -1L // versions below a swept compaction base are gone
      val nOps = 8
      (0 until nOps).foreach { v =>
        if (live.size >= 2 && rnd.nextInt(3) == 0) {
          val ids = rnd.shuffle(live.keys.toSeq).take(1 + rnd.nextInt(live.size - 1).min(1))
          m.processDeletes(ids.map(Tuple1(_)).toDF("doc_id"), v.toLong)
          live --= ids; dead ++= ids
        } else {
          val rows: Seq[(Long, String, String, String, Int)] =
            (0 until 1 + rnd.nextInt(3)).map { _ =>
            val id =
              if (dead.nonEmpty && rnd.nextInt(3) == 0) { val i = dead.head; dead -= i; i }
              else { val i = nextId; nextId += 1; i }
            docRow(id)
          }
          m.processBatch(rows.toDF("doc_id", "text", "lang", "source", "n_chars"), v.toLong)
          live ++= rows.map(r => r._1 -> r)
        }
        states(v.toLong) = live
        // schedule 1 compacts MID-STREAM: later snapshots exercise the
        // base+delta union, earlier ones the swept-resource 404 path
        if (s == 1 && v == 3) { Compaction.compactEngine(spark, dir); base = v.toLong }
      }
      (0 until nOps).foreach { v =>
        val snap = m.indexAt(v.toLong)
        if (v < base) assert(snap.isEmpty, s"swept version $v must be gone (schedule $s)")
        else {
          val eng = new WikiSearchEngine(spark, snap.get)
          val oEng = new WikiSearchEngine(spark, IndexBuilder.fromDocumentsTable(spark,
            states(v.toLong).values.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"),
            numPartitions = 2))
          (0 until 4).foreach { _ =>
            val q = query()
            val got  = eng.run(q).select("docId").collect().map(_.getString(0)).toSet
            val want = oEng.run(q).select("docId").collect().map(_.getString(0)).toSet
            assert(got == want,
              s"asOf divergence: schedule $s v=$v q=$q\n live=${got.toSeq.sorted}\n oracle=${want.toSeq.sorted}")
            checked += 1
          }
        }
      }
    }
    assert(checked >= 40, s"only $checked (query, version) trials ran")
  }
  test("metamorphic analytics-store property: random batch splits x every version equal the prefix batch oracles") {
    // The pinned store tests use ONE deterministic split (pmod 3); this
    // property draws RANDOM splits and checks EVERY committed version of
    // all three state classes against a batch oracle over the prefix
    // union - the associativity claim (counter addition / bottom-k merge
    // / integer keyed sums) quantified rather than sampled. A random
    // trial also compacts mid-stream and re-checks: the folded base must
    // serve the same answers and committedVersions must shrink to
    // base+later (swept versions stop being resources). Seeded.
    import graft.functions.Sketches
    import graft.pipeline.Curation
    val rnd = new scala.util.Random(11)
    val (d, w) = (4, 64)
    val cmsU = udaf(new Sketches.CmsAggregator(d, w))
    val bkq = udaf(new Sketches.BottomKQuantiles(128),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Double)]())
    (0 until 2).foreach { trial =>
      val nb = 3 + rnd.nextInt(3) // 3-5 random batches
      val base = java.nio.file.Files.createTempDirectory(s"graft-an-prop$trial").toString

      // --- CMS store over a random keyed stream, random split ---------
      val keys = (1 to 400).map(_ => rnd.nextInt(50).toLong)
      val batchOf = keys.map(_ => rnd.nextInt(nb))
      val cm = new LiveSketchMaintainer(spark, s"$base/cms", d, w)
      (0 until nb).foreach { b =>
        val rows = keys.zip(batchOf).collect { case (k, `b`) => k }
        cm.processBatch(rows.toDF("user_id"), b.toLong)
      }
      (0 until nb).foreach { v =>
        val prefix = keys.zip(batchOf).collect { case (k, b) if b <= v => k }
        val want = prefix.toDF("user_id").agg(cmsU(col("user_id")).as("sk"))
          .head.getSeq[Long](0).toSeq
        assert(cm.cmsAt(v.toLong) == want, s"cms trial $trial v=$v split=$nb")
      }

      // --- per-group quantile store, random split ----------------------
      val qrows = (1L to 300L).map(i =>
        (s"g${rnd.nextInt(3)}", i, (rnd.nextInt(1000) + 1).toDouble))
      val qAssign = qrows.map(_ => rnd.nextInt(nb))
      val qm = new LiveQuantileMaintainer(spark, s"$base/qs", k = 128)
      (0 until nb).foreach { b =>
        val rows = qrows.zip(qAssign).collect { case (r, `b`) => r }
        qm.processBatch(rows.toDF("g", "key", "v"), b.toLong)
      }
      (0 until nb).foreach { v =>
        val prefix = qrows.zip(qAssign).collect { case (r, b) if b <= v => r }
        val want = prefix.toDF("g", "key", "v")
          .groupBy("g").agg(bkq(col("key"), col("v")).as("sk"))
          .select(col("g"), col("sk.n_sample"), col("sk.p50"), col("sk.p90"), col("sk.p99"))
          .collect().map(r => r.getString(0) ->
            Sketches.QsOut(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
          .toMap
        assert(qm.quantilesAt(v.toLong) == want, s"quantile trial $trial v=$v split=$nb")
      }

      // --- DSIR model store, random split ------------------------------
      val docs = (1L to 120L).map { i =>
        val text = Seq.fill(2 + rnd.nextInt(4))(s"w${rnd.nextInt(12)}").mkString(" ")
        (i, text, if (rnd.nextInt(3) == 0) "en" else "xx")
      }
      val dAssign = docs.map(_ => rnd.nextInt(nb))
      val mm = new LiveDsirModelMaintainer(spark, s"$base/dsir")
      (0 until nb).foreach { b =>
        val rows = docs.zip(dAssign).collect { case (r, `b`) => r }
        mm.processBatch(rows.toDF("doc_id", "text", "lang"), col("lang") === "en", b.toLong)
      }
      def modelSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
        df.collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("lr"))).toSet
      (0 until nb).foreach { v =>
        val prefix = docs.zip(dAssign).collect { case (r, b) if b <= v => r }
        val want = modelSet(Curation.dsirModel(Curation.dsirCounts(
          prefix.toDF("doc_id", "text", "lang"), col("lang") === "en")))
        assert(modelSet(mm.modelAt(v.toLong).get) == want,
          s"dsir trial $trial v=$v split=$nb")
      }

      // --- compaction: folded bases serve identically; swept versions
      // stop being resources (the serving edge's 404 boundary) ---------
      val latest = (nb - 1).toLong
      cm.compact(); qm.compact(); mm.compact()
      cm.compact(); qm.compact(); mm.compact() // re-run with no new delta
      assert(cm.committedVersions == Seq(latest) &&
        qm.committedVersions == Seq(latest) && mm.committedVersions == Seq(latest))
      val fullCms = keys.toDF("user_id").agg(cmsU(col("user_id")).as("sk"))
        .head.getSeq[Long](0).toSeq
      assert(cm.cmsAt() == fullCms, s"post-compact cms trial $trial")
      val fullQ = qrows.toDF("g", "key", "v")
        .groupBy("g").agg(bkq(col("key"), col("v")).as("sk"))
        .select(col("g"), col("sk.n_sample"), col("sk.p50"), col("sk.p90"), col("sk.p99"))
        .collect().map(r => r.getString(0) ->
          Sketches.QsOut(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      assert(qm.quantilesAt() == fullQ, s"post-compact quantiles trial $trial")
      assert(modelSet(mm.modelAt().get) == modelSet(Curation.dsirModel(
        Curation.dsirCounts(docs.toDF("doc_id", "text", "lang"), col("lang") === "en"))),
        s"post-compact dsir trial $trial")
    }
  }
  test("LiveEngineMaintainer over a file: URI store dir - ingest, delete, time travel, recovery, compaction all through Hadoop FS") {
    // the engine store is the largest VersionedState consumer (11 parts,
    // tombstones, derived-part coverage probes) - drive its full
    // lifecycle through a URI dir so none of its _SUCCESS probes or
    // listings regress to java.io.File (which would silently see nothing
    // on an object store and re-ingest forever)
    import graft.query.WikiSearchEngine
    val raw = java.nio.file.Files.createTempDirectory("graft-uri-eng").toString
    val dir = "file:" + raw
    val m = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    def df(rows: Seq[(Long, String, String, String, Int)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    def ids(ix: graft.ingest.WikiIndex) =
      new WikiSearchEngine(spark, ix).run("TEXT == 'alpha'")
        .select("docId").collect().map(_.getString(0)).toSet
    m.processBatch(df(Seq((1L, "alpha beta", "en", "s1", 10))), 0L)
    m.processBatch(df(Seq((2L, "alpha gamma", "en", "s1", 11))), 1L)
    m.processDeletes(Seq(Tuple1(1L)).toDF("doc_id"), 2L)
    assert(ids(m.latestIndex.get) == Set("2"))
    assert(ids(m.indexAt(1L).get) == Set("1", "2"))
    // replay of a committed id must be detected THROUGH the URI
    m.processBatch(df(Seq((9L, "alpha ghost", "en", "s1", 11))), 1L)
    assert(ids(m.latestIndex.get) == Set("2"), "replayed batch must be a no-op")
    // a fresh maintainer rediscovers the committed versions by listing
    val r = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(r.latestVersion == 2L && ids(r.latestIndex.get) == Set("2"))
    // compaction folds + sweeps through the same FileSystem; the base
    // serves, swept history is gone, and tombstoned doc 1 stays erased
    Compaction.compactEngine(spark, dir)
    assert(!new java.io.File(raw, "v0").exists() &&
      new java.io.File(raw, "c2").exists())
    val rc = new LiveEngineMaintainer(spark, dir, numPartitions = 2)
    assert(rc.indexAt(1L).isEmpty && ids(rc.latestIndex.get) == Set("2"))
  }

  test("single-writer contract: a second active streaming writer on one store dir is refused; restart-recovery still attaches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-one-writer").toString
    def ckpt() = java.nio.file.Files.createTempDirectory("graft-ow-ckpt").toString
    val in1 = MemoryStream[Long]
    val q1 = new LiveSketchMaintainer(spark, dir, 4, 64)
      .attach(in1.toDF().toDF("user_id"), ckpt())
    try {
      in1.addData(1L, 1L, 1L)
      q1.processAllAvailable()
      // a SECOND maintainer attaching to the same store dir (its own
      // checkpoint — i.e. its own batch numbering) would silently race
      // the version protocol; the lease refuses it and stops its query
      val in2 = MemoryStream[Long]
      val ex = intercept[IllegalStateException](
        new LiveSketchMaintainer(spark, dir, 4, 64)
          .attach(in2.toDF().toDF("user_id"), ckpt()))
      assert(ex.getMessage.contains("active streaming writer"))
      // spelling variants of the same dir hold the SAME lease: a writer
      // attached on the raw path refuses one on the file: URI form
      val in2b = MemoryStream[Long]
      intercept[IllegalStateException](
        new LiveSketchMaintainer(spark, "file:" + dir, 4, 64)
          .attach(in2b.toDF().toDF("user_id"), ckpt()))
      // the first writer is untouched
      in1.addData(1L, 1L)
      q1.processAllAvailable()
      assert(new LiveSketchMaintainer(spark, dir, 4, 64).latestVersion == 1L)
    } finally q1.stop()
    // restart-recovery (the documented pattern): the old query is
    // stopped, so a fresh maintainer may take the dir over
    val in3 = MemoryStream[Long]
    val q3 = new LiveSketchMaintainer(spark, dir, 4, 64)
      .attach(in3.toDF().toDF("user_id"), ckpt())
    try {
      in3.addData(2L)
      q3.processAllAvailable()
    } finally q3.stop()
  }
}
