package graft.tools

import graft.{Sessions, Tables}
import graft.ingest.IndexBuilder

import org.apache.spark.sql.functions._

/** Empirical check of SCALE.md's hot-term-skew claim (not part of the
  * driver surface): plants a term in 50% of the sf corpus, builds the
  * global index with the single-phase and the salted two-phase
  * aggregation, and measures per-task shuffle-read skew in the final
  * aggregation stages — the quantity the salt exists to bound. Then
  * runs the AND and range query shapes through a full engine over the
  * skewed corpus to show the lossy cap keeps serving exact and fast.
  * Usage: graft.tools.SkewBench [sfDir] [salts=16]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val salts = args.lift(1).map(_.stripPrefix("salts=").toInt).getOrElse(16)
    // partition coalescing off: at sf volumes AQE folds the whole agg
    // into one reducer and hides exactly the per-reducer skew this tool
    // exists to measure; production keeps it on (SCALE.md)
    val spark = Sessions.builder()
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Plant: one token in 50% of documents — the "stopword at 100 TB"
    // shape. At sf0.1 that is ~2500 docs for a term whose UidList caps
    // at 20 uids per (partition, language).
    val docs = Tables.load(spark, sfDir, "documents")
    val skewed = docs.withColumn("text",
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(" hotskew")))
        .otherwise(col("text")))
    // spread by docId (NOT fieldValue: that would pre-cluster the hot
    // term into one input partition) — models at-scale ingest, where a
    // stopword's rows arrive on every mapper
    val rows = IndexBuilder.documentIndexRows(skewed, 8)
      .repartition(spark.sparkContext.defaultParallelism, col("docId"))
      .cache()
    val totalRows = rows.count()

    def measured(label: String)(body: => Long): Unit = {
      val (out, trace) = JobTrace(spark.sparkContext)(body)
      // the final-agg stage is the one with the largest max task
      // shuffle read — the reducer the hot key lands on
      val worst = trace.stages.filter(_.sumBytes > 0)
        .sortBy(-_.maxBytes).headOption.getOrElse(JobTrace.Stage())
      val skewRatio =
        if (worst.tasks == 0 || worst.sumBytes == 0) 0.0
        else worst.maxBytes.toDouble / (worst.sumBytes.toDouble / worst.tasks)
      println(f"$label%-22s rows=$out%8d wall=${trace.wall}%6.2f s  " +
        f"worst-stage: tasks=${worst.tasks}%3d maxTaskShuffleRead=${worst.maxBytes / 1024}%6d KiB " +
        f"(${skewRatio}%4.1fx mean) maxTaskTime=${worst.maxMs}%5d ms")
    }

    println(s"corpus: $sfDir + 'hotskew' in 50% of docs; index rows=$totalRows; salts=$salts")
    measured("single-phase agg")(IndexBuilder.buildGlobalIndex(rows).count())
    measured("salted two-phase agg")(IndexBuilder.buildGlobalIndexSalted(rows, salts).count())

    // result equality (the associativity claim, at corpus scale)
    val a = IndexBuilder.buildGlobalIndex(rows)
    val b = IndexBuilder.buildGlobalIndexSalted(rows, salts)
    val cols = Seq("fieldValue", "fieldName", "partition", "language", "count", "ignore")
    val diff = a.select(cols.map(col): _*).exceptAll(b.select(cols.map(col): _*)).count() +
      b.select(cols.map(col): _*).exceptAll(a.select(cols.map(col): _*)).count()
    println(s"plain vs salted row diff (count/ignore columns): $diff (expect 0)")

    // the hot term's index shape: every shard row should be lossy
    val hot = a.filter(col("fieldValue") === "hotskew" && col("fieldName") === "TEXT")
      .agg(count(lit(1)).as("rows"), sum("count").as("docs"),
        sum(when(col("ignore"), 1).otherwise(0)).as("lossyRows"))
      .collect().head
    println(s"hotskew index rows=${hot.getLong(0)} docs=${hot.getLong(1)} lossy=${hot.getLong(2)}")

    // serving on the skewed corpus: lossy AND + range stay exact & fast
    val ix  = IndexBuilder.fromDocumentsTable(spark, skewed, 8)
    val eng = new graft.query.WikiSearchEngine(spark, ix)
    def q(label: String, query: String): Unit = {
      eng.run(query).count() // warm
      val t0 = System.nanoTime()
      val n  = eng.run(query).count()
      println(f"$label%-22s rows=$n%6d warm=${(System.nanoTime() - t0) / 1e6}%7.1f ms")
    }
    q("AND w/ hot term", "TEXT == 'hotskew' and TEXT == 'join' and TEXT == 'vector'")
    q("range + hot term", "TEXT == 'hotskew' and (NCHARS >= '100' and NCHARS < '420')")
    spark.stop()
  }
}
