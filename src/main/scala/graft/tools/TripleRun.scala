package graft.tools

import scala.collection.mutable

/** Diagnostic: three interleaved passes over the named registry queries
  * (the bench's pass structure, minus the rest of the registry) —
  * separates cold/build cost (pass 1) from warm serving cost (passes
  * 2-3), which ProfileQuery's single warm run conflates with session
  * state — then each entry's min/median over the warm passes. An entry
  * that throws prints FAIL and leaves the later passes; the rest run on.
  * Usage: `TripleRun <sfDir> <query...>`.
  */
object TripleRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val warm = mutable.LinkedHashMap(names.toSeq.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    for (pass <- 1 to 3; name <- names if warm.contains(name)) {
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (pass > 1) warm(name) += sec
        println(f"pass$pass $name $sec%.2f s")
      } catch { case e: Throwable =>
        warm -= name
        // String.valueOf: NPE and friends often carry a null message, and
        // a null-deref here would mask the original failure
        println(s"FAIL $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
      }
    }
    for ((name, ts) <- warm) {
      val s = ts.sorted
      val median = if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      println(f"$name%-28s min=${s.head}%.3f median=$median%.3f")
    }
    spark.stop()
  }
}
