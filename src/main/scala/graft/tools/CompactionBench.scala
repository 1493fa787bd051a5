package graft.tools

import graft.{Sessions, Tables}
import graft.streaming.{Compaction, LiveEngineMaintainer, LiveIndexMaintainer, LiveNearDupMaintainer, StreamSink}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic: measures what `Compaction` buys (and costs) for the
  * index, near-dup and engine maintainers — read-set size, merged-read
  * wall, compaction wall, and on-disk bytes — and proves
  * read-equivalence pre/post on real corpus data. Feeds the SCALE.md compaction appendix.
  *
  * Usage: `runMain graft.tools.CompactionBench [sfDir] [nBatches]`
  */
object CompactionBench {
  private def du(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(dir))
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** One store under test: how to open it on a dir, how to compact that
    * dir, and its canonical read (the rows compaction must preserve). */
  private final case class Store[S <: StreamSink](name: String, open: String => S,
      compact: String => Long, read: S => DataFrame)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val n     = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, sfDir, "documents").cache()
    docs.count()
    def ingest(m: StreamSink): Unit = (0 until n).foreach(b =>
      m.processBatch(docs.filter(pmod(col("doc_id"), lit(n)) === b), b.toLong))
    val indexRead = (m: LiveIndexMaintainer) => m.latest.get
      .select(col("fieldValue"), col("fieldName"), col("partition"), col("language"),
        col("count"), array_sort(col("uids")).as("uids"), col("ignore"))

    // each store: n delta batches → read → compact → reopen → read, and
    // the two reads must be identical
    val stores = Seq[Store[_ <: StreamSink]](
      Store("index", new LiveIndexMaintainer(spark, _, numPartitions = 8),
        Compaction.compactIndex(spark, _), indexRead),
      Store("dedup", new LiveNearDupMaintainer(spark, _, tau = 0.6),
        Compaction.compactDedup(spark, _), (m: LiveNearDupMaintainer) => m.latest.get.select("doc_id")),
      // the engine store's read is a cold serve of a 2-term AND
      Store("engine", new LiveEngineMaintainer(spark, _, numPartitions = 8),
        Compaction.compactEngine(spark, _), (m: LiveEngineMaintainer) =>
          new graft.query.WikiSearchEngine(spark, m.latestIndex.get)
            .run("TEXT == 'spark' and TEXT == 'join'")))
    def bench[S <: StreamSink](st: Store[S]): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-cbench-${st.name}").toString
      val m = st.open(dir)
      val (_, ingestWall) = timed(ingest(m))
      val deltaBytes = du(dir)
      val (pre, preWall) = timed(canon(st.read(m)))
      val (_, compactWall) = timed(st.compact(dir))
      val baseBytes = du(dir)
      val (post, postWall) = timed(canon(st.read(st.open(dir))))
      require(pre == post, s"${st.name} compaction must be read-equivalent")
      println(f"${st.name}: n=$n ingest=$ingestWall%.2fs deltas=${deltaBytes / 1024}%dKiB " +
        f"read_pre=$preWall%.2fs compact=$compactWall%.2fs base=${baseBytes / 1024}%dKiB " +
        f"read_post=$postWall%.2fs rows=${pre.size}")
      pre
    }
    val preCanon = stores.map(bench(_)).head // the index store's read

    // ---- auto-compaction policy: same ingest, dial = 4 -----------------
    // Sustained ingest with autoCompactEvery: majors fire inside the
    // batch turn every 4 deltas, so the final read never folds more
    // than 3 deltas over the base — the amortized cost shows up in
    // ingest wall, the payoff in read wall and a bounded dir count.
    val acDir = java.nio.file.Files.createTempDirectory("graft-cbench-ac").toString
    val ac = new LiveIndexMaintainer(spark, acDir, numPartitions = 8, autoCompactEvery = 4)
    val (_, acIngestWall) = timed(ingest(ac))
    val acBytes = du(acDir)
    val acDirs = Option(new java.io.File(acDir).listFiles()).map(_.length).getOrElse(0)
    val (acCanon, acReadWall) = timed(canon(indexRead(ac)))
    require(acCanon == preCanon, "auto-compacted read must equal the manual maintainer's")
    println(f"index-auto4: n=$n ingest=$acIngestWall%.2fs dirs=$acDirs%d " +
      f"bytes=${acBytes / 1024}%dKiB read=$acReadWall%.2fs rows=${acCanon.size}")

    spark.stop()
  }
}
