package graft.tools

import graft.{Sessions, Tables}
import graft.api.{AnalyticsService, QueryService}

import org.apache.spark.sql.functions.{col, lit, pmod}

/** "Query load during live ingest" — the reference's own benchmark
  * scenario (README.md:206-219: concurrent MapReduce ingest beside the
  * query client; published degradation 2-4× aggregate, single-query
  * spikes to ~12 s) measured against BOTH serving edges:
  *
  *  A. the ENGINE store: the seeded 40-query reference-shape workload
  *     (Bench.concurrentWorkload, 8 clients) against latest-version
  *     serving (`QueryService.versioned` resolver — each commit turns
  *     the memoized service over, exactly the /query wire path) while a
  *     writer thread commits 1/20th-corpus micro-batches;
  *  B. the ANALYTICS edge: per-route p50/p99 for /sketch/cms,
  *     /sketch/quantiles and /ann while all three stores' writers
  *     commit — the generation-keyed StoreCache's worst case (every
  *     commit evicts the per-snapshot memo, so loaded requests pay the
  *     re-merge instead of the map probe).
  *
  * Phases run IDLE first (writer quiescent), then LOADED (writer
  * committing back-to-back), and print per-phase medians + the
  * degradation factor. Single JVM — writers share the Spark scheduler
  * with readers, which is the contention the reference's scenario
  * measures (its ingest MapReduce shares the cluster).
  *
  * `fair` runs the session under the FAIR scheduler with the writer in
  * its own pool ("ingest") and requests in "serving" — the standard
  * mixed-workload deployment posture. Under default FIFO, one
  * multi-second index-build job HOLDS the scheduler head and every
  * sub-second query queues behind it (measured 15× degradation);
  * FAIR interleaves the two pools' tasks and is what a serving
  * deployment must configure. Run both to see the difference. Without
  * `fair` the probe sets FIFO mode itself (`Sessions.builder` defaults
  * to FAIR), so the pool names are ignored.
  *
  * Usage: `IngestLoadProbe [sfDir] [fair]`.
  */
object IngestLoadProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val fair  = args.contains("fair")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = Sessions.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    val spark = b.config("spark.scheduler.mode", if (fair) "FAIR" else "FIFO").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[probe] scheduler=${if (fair) "FAIR (serving/ingest pools)" else "FIFO"}")
    // per-thread pool assignment: local properties are inherited by the
    // jobs a thread submits
    def inPool[T](pool: String)(body: => T): T = {
      if (fair) spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      try body
      finally if (fair) spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    }

    // ---------------- A. engine store under writer pressure ----------------
    val docs = Tables.load(spark, sfDir, "documents").cache()
    docs.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-load").toString
    // autoCompactEvery bounds the merge-on-read set under sustained
    // ingest — without it every commit widens the per-query delta union
    // and "degradation" measures unbounded read amplification, not
    // scheduler contention (measured: walls 7.5 -> 21 s across one
    // loaded phase as deltas accumulated). Compaction windows ARE part
    // of the scenario (the reference's published spikes to ~12 s are
    // its major compactions); maxq captures them.
    val m = new graft.streaming.LiveEngineMaintainer(spark, dir,
      numPartitions = 8, autoCompactEvery = 8)
    // half the corpus pre-committed: queries always have real hits
    (0 until 10).foreach(b =>
      m.processBatch(docs.filter(pmod(col("doc_id"), lit(20)) === b), b.toLong))
    val resolver = QueryService.versioned(m)
    def latestSvc(): QueryService = resolver(m.latestVersion).get
    val workload = graft.Bench.concurrentWorkload(m.latestIndex.get, 40)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def pass(): (Double, Double) = { // (wall sec, max single-query sec)
      val t0 = System.nanoTime()
      val fs = workload.map(q => scala.concurrent.Future {
        val s0 = System.nanoTime()
        inPool("serving")(latestSvc().query(q, Nil, 20))
        (System.nanoTime() - s0) / 1e9
      })
      val lats = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      ((System.nanoTime() - t0) / 1e9, lats.max)
    }
    pass() // warm (codegen, parquet footers, term cache)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val idle = (1 to 3).map(_ => pass())
    println(f"[engine] idle: walls=${idle.map(_._1).map(w => f"$w%.2f").mkString(",")} s  " +
      f"median qps=${40 / median(idle.map(_._1))}%.2f  maxq=${idle.map(_._2).max}%.2f s")

    // writer: commits fresh versions of 1/20th-corpus slices
    // BACK-TO-BACK (ids strictly increasing — the protocol's
    // requirement; no pause — the reference's scenario is sustained
    // MapReduce ingest sharing the cluster) until the loaded passes
    // finish
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => inPool("ingest") {
      var id = 10L
      while (!stop.get) {
        m.processBatch(docs.filter(pmod(col("doc_id"), lit(20)) === (id % 20)), id)
        commits.incrementAndGet()
        id += 1
      }
    })
    writer.start()
    while (commits.get < 1) Thread.sleep(50) // first loaded commit landed
    // run loaded passes until ≥4 commits overlapped (min 3 passes), so
    // the measurement spans sustained writer pressure, not one in-flight
    // commit's tail
    val loadedBuf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    while (loadedBuf.size < 3 || commits.get < 8) loadedBuf += pass()
    val loaded = loadedBuf.toSeq
    stop.set(true); writer.join()
    // loaded walls are BIMODAL (sub-second between commits, multi-second
    // while a build/compaction job shares the scheduler), so the honest
    // aggregate is total-queries / total-wall over the whole loaded
    // window — the same aggregate the reference's 2-4× figure reports —
    // with maxq capturing the compaction-window spikes (their ~12 s)
    val qpsIdle   = 40 / median(idle.map(_._1))
    val aggLoaded = loaded.size * 40 / loaded.map(_._1).sum
    println(f"[engine] loaded: ${loaded.size} passes over ${loaded.map(_._1).sum}%.1f s  " +
      f"aggregate qps=$aggLoaded%.2f  best=${40 / loaded.map(_._1).min}%.2f  " +
      f"maxq=${loaded.map(_._2).max}%.2f s  commits=${commits.get}")
    println(f"[engine] aggregate degradation ×${qpsIdle / aggLoaded}%.2f (reference publishes 2-4×)")

    // ---------------- B. analytics edge under writer pressure --------------
    val ev = Tables.load(spark, sfDir, "events")
      .select("user_id").cache(); ev.count()
    val li = Tables.load(spark, sfDir, "lineitem").select(
      col("l_returnflag").as("g"),
      (col("l_orderkey") * 8 + col("l_linenumber").cast("long")).as("key"),
      col("l_quantity").as("v")).cache(); li.count()
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").cache(); emb.count()
    val base = java.nio.file.Files.createTempDirectory("graft-an-load").toString
    val cmW = new graft.streaming.LiveSketchMaintainer(spark, s"$base/cms")
    val qmW = new graft.streaming.LiveQuantileMaintainer(spark, s"$base/qs")
    val anW = new graft.streaming.LiveAnnMaintainer(spark, s"$base/ann", cells = 64)
    (0 until 10).foreach { b =>
      cmW.processBatch(ev.filter(pmod(col("user_id"), lit(20)) === b), b.toLong)
      qmW.processBatch(li.filter(pmod(col("key"), lit(20)) === b), b.toLong)
      anW.processBatch(emb.filter(pmod(col("vec_id"), lit(20)) === b), b.toLong)
    }
    val svc = new AnalyticsService(
      cms = Some(new graft.streaming.LiveSketchMaintainer(spark, s"$base/cms")),
      quantiles = Some(new graft.streaming.LiveQuantileMaintainer(spark, s"$base/qs")),
      ann = Some(new graft.streaming.LiveAnnMaintainer(spark, s"$base/ann", cells = 64)))
    val queryIds = emb.filter(pmod(col("vec_id"), lit(20)) < 10)
      .filter(col("vec_id") % 100 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

    def route(name: String, n: Int)(req: Int => Unit): (Double, Double) = {
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val fs = (0 until n).map(i => scala.concurrent.Future {
        val t0 = System.nanoTime()
        inPool("serving")(req(i))
        lats.add((System.nanoTime() - t0) / 1e6)
        ()
      })
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      val s = lats.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).sorted
      (s(s.length / 2), s(math.min(s.length - 1, (s.length * 99) / 100)))
    }
    def phase(tag: String): Unit = {
      val (c50, c99) = route("cms", 200)(i => { svc.cmsEstimate((i % 37).toLong); () })
      val (q50, q99) = route("qs", 200)(_ => { svc.groupQuantiles(None); () })
      val (a50, a99) = route("ann", 40)(i =>
        { svc.annTopK(Left(queryIds(i % queryIds.size)), 5, 4); () })
      println(f"[analytics:$tag] cms p50=$c50%.1f p99=$c99%.1f ms | " +
        f"quantiles p50=$q50%.1f p99=$q99%.1f ms | ann p50=$a50%.0f p99=$a99%.0f ms")
    }
    // warm each route once
    svc.cmsEstimate(1L); svc.groupQuantiles(None)
    svc.annTopK(Left(queryIds.head), 5, 4)
    phase("idle")
    val stopB = new java.util.concurrent.atomic.AtomicBoolean(false)
    val commitsB = new java.util.concurrent.atomic.AtomicInteger(0)
    val writerB = new Thread(() => inPool("ingest") {
      var id = 10L
      while (!stopB.get) {
        cmW.processBatch(ev.filter(pmod(col("user_id"), lit(20)) === (id % 20)), id)
        qmW.processBatch(li.filter(pmod(col("key"), lit(20)) === (id % 20)), id)
        anW.processBatch(emb.filter(pmod(col("vec_id"), lit(20)) === (id % 20)), id)
        commitsB.incrementAndGet()
        id += 1
      }
    })
    writerB.start()
    while (commitsB.get < 1) Thread.sleep(50)
    phase("loaded")
    stopB.set(true); writerB.join()
    println(s"[analytics] commits during loaded phase: ${commitsB.get}")

    pool.shutdown()
    spark.stop()
  }
}
