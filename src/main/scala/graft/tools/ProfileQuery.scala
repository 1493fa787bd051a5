package graft.tools

import graft.Sessions

/** Per-job breakdown of one registry query (not part of the driver
  * surface): runs the named query once warm, then once instrumented,
  * printing every Spark job's wall time, stage names and task counts —
  * the "where do the seconds go" view TripleRun's timings lack. Accepts a
  * comma-separated list so a sweep shares one session (and its warm
  * caches) instead of paying a JVM+session spin-up per query. Usage:
  *   graft.tools.ProfileQuery <sfDir> <query>[,<query>...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("dd_ngram_jaccard"))
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach(profile(spark, sfDir, _))
    spark.stop()
  }

  private def profile(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, name: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: codegen, parquet footers, caches

    val (_, trace) = JobTrace(spark.sparkContext)(fn(spark, sfDir).count())
    val js = trace.jobs
    println(f"$name: wall=${trace.wall}%.3f s, jobs=${js.size}, job-time sum=${js.map(j => j.end - j.start).sum / 1e3}%.3f s")
    js.foreach { j =>
      println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s tasks=${j.tasks}%4d  ${j.stages.mkString(" | ")}")
    }
  }
}
