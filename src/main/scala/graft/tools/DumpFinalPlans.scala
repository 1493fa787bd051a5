package graft.tools

import java.nio.file.{Files, Paths}

/** Round-13 optimization evidence: EXECUTES each named query, then dumps
  * its FINAL adaptive plan to `<outDir>/<query>_<suffix>.txt` — the only
  * view that shows whether AQE's runtime stage cache actually deduplicated
  * canonically-identical exchanges (ReusedExchange / reused query stages
  * never appear in the initial isFinalPlan=false dump). Usage:
  *   graft.tools.DumpFinalPlans <sfDir> <outDir> <suffix> <query>[,<query>...]
  */
object DumpFinalPlans {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names  = args(3).split(",").toSeq
    val spark  = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      // collect(), not count() or a noop write: both of those wrap df in
      // a NEW QueryExecution (agg / write command), leaving df's OWN
      // adaptive plan un-executed — the dump would still print
      // isFinalPlan=false with zero reuse info. collect() runs
      // df.queryExecution itself; registry queries are bounded-output,
      // so the driver-side result is small.
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      val reused = "ReusedExchange|ReusedSubquery".r.findAllIn(plan).size
      println(s"wrote $outDir/${n}_$suffix.txt (${plan.length} chars, $reused reused-node refs)")
    }
    spark.stop()
  }
}
