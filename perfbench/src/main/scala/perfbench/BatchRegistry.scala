package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import scala.util.{Failure, Success, Try}

/** `batch-registry`: one client runs eight registry entries in order,
  * each fully materialized with `collect()`, over the tables `run.py`
  * generated from the seed (`perfbench/tables.py`) under `<work>/tables`:
  * four relational entries, and the costliest pipeline entry of each
  * family (dedup, similarity, text analytics, curation).
  *
  * Set-up is the Spark session start: the entries read their tables
  * lazily and need nothing built first. Whole passes run while
  * `--seconds` last, at least one, and the first pass is cold, as a batch
  * job's one run is: a warm-up pass would cost ~18 s a run, more than the
  * benchmark's time budget allows (perfbench/README.md). Every later run
  * of an entry must reproduce the first run's hash over every row and
  * column. After measurement the first pass's rows are written as parquet
  * with each entry's DuckDB oracle SQL, and `run.py` compares them with
  * the oracle the way `tools/compare.py` does, outside any timing.
  */
object BatchRegistry {
  val Relational = Seq("q3_top_orders", "q21_sole_returner", "q30_quantile_cont", "q36_cms_heavy")
  val Pipeline = Seq("dd_minhash_lsh", "sim_pairs_brute", "ta_lm_score", "cu_bloom")
  val Entries: Seq[String] = Relational ++ Pipeline

  def layer(entry: String): String = if (Relational.contains(entry)) "relational" else "pipeline"

  /** Hash over every column of every row, independent of row order. */
  def rowHash(rows: Array[Row]): Int = MurmurHash3.unorderedHash(rows.iterator.map(_.toString))

  def run(ctx: Ctx): Outcome = {
    val dir = new File(ctx.args.work, "tables").getPath
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val walls = Entries.map(_ -> ArrayBuffer.empty[Double]).toMap
    val tally = new Tally

    /** One timed run of `e`, its check done after the clock stops. */
    def once(e: String)(check: Array[Row] => Option[String])
        : Option[(Array[Row], StructType)] = {
      val s = System.nanoTime()
      val out = Try(ctx.trace(s"${layer(e)}.$e") { _ =>
        val df = fns(e)(ctx.spark, dir)
        (df.collect(), df.schema)
      })
      val ms = (System.nanoTime() - s) / 1e6
      tally.record(ms, out match {
        case Success((rows, _)) => check(rows)
        case Failure(ex)        => Some(s"$e: $ex")
      })
      walls(e) += ms
      out.toOption
    }

    val first = mutable.Map.empty[String, (Array[Row], StructType)]
    var passes = 0
    val cpu0 = Host.processCpuNs()
    val m0 = System.nanoTime()
    val deadline = m0 + ctx.args.seconds * 1000000000L
    ctx.trace("run.measure") { _ =>
      do {
        Entries.foreach { e =>
          val ref = first.get(e).map { case (rows, _) => rowHash(rows) }
          once(e) { rows =>
            if (ref.exists(_ != rowHash(rows))) Some(s"$e: rows differ from the first run") else None
          }.foreach(r => if (!first.contains(e)) first(e) = r)
        }
        passes += 1
      } while (System.nanoTime() < deadline)
    }
    tally.elapsedS = (System.nanoTime() - m0) / 1e9
    val cpuNs = Host.processCpuNs() - cpu0

    // The first rows and the oracle SQL, for run.py's DuckDB check.
    val results = ctx.dir("results")
    first.foreach { case (e, (rows, schema)) =>
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/$e")
    }
    Files.writeString(Path.of(results, "oracle_sql.json"),
      Json.obj(Entries.flatMap(e => oracles.get(e).map(e -> _)).toMap), UTF_8)

    val medians = Entries.map(e => e -> Stats.median(walls(e).toSeq))
    Outcome(
      attempted = tally.attempted.get,
      failed = tally.failed.get,
      metrics = Seq(("setup_s", ctx.sessionStartS, "s")) ++ tally.latencyMetrics ++ Seq(
        ("throughput_per_s", tally.qps, "1/s")),
      info = Seq("session_start_s" -> ctx.sessionStartS, "passes" -> passes,
        "cpu_ms_per_request" -> cpuNs / 1e6 / (tally.attempted.get - tally.failed.get),
        "batch_wall_s" -> medians.map(_._2).sum / 1e3) ++
        medians.map { case (e, ms) => s"entry_ms.$e" -> ms } ++ tally.latencyFacts,
      errors = tally.errors)
  }
}
