package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Command line: `--workload W --seed N --seconds S --trace 0|1 --nproc P
  * --work DIR [--trace-out FILE]`. `perfbench/run.py` builds the
  * classpath and passes these; see perfbench/README.md.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    nproc: Int, work: String, traceOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("nproc").toInt, need("work"), m.getOrElse("trace-out", ""))
  }
}

/** What one run hands back: the operation counts, every end-to-end
  * metric as (value, unit), and run facts for the human-readable report.
  */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], info: Seq[(String, Any)], errors: Seq[String])

/** The run's shared state: arguments, session and (when tracing) tracer. */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Option[Tracer],
    val sessionStartS: Double) {

  private val noop = new Span(0, 0, -1, "", 0)

  /** `body` timed as a span when tracing, called plainly otherwise. */
  def trace[T](name: String, parent: Option[Span] = None)(body: Span => T): T =
    tracer match {
      case Some(t) => t.span(name, parent)(body)
      case None    => body(noop)
    }

  def dir(name: String): String = {
    val d = new File(args.work, name)
    d.mkdirs()
    d.getPath
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val loadBefore = Host.loadAvg1m()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(s"local[${args.nproc}]")
      .config("spark.sql.shuffle.partitions", args.nproc.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", args.nproc.toString)
      .config("spark.local.dir", new File(args.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(args, spark, tracer, sessionStartS)
    val out =
      try args.workload match {
        case "search-hot"     => SearchWorkloads.hot(ctx)
        case "ingest-live"    => IngestLive.run(ctx)
        case "batch-registry" => BatchRegistry.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      } catch { case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
      }
    val loadAfter = Host.loadAvg1m()
    val facts = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "nproc" -> args.nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_rss_mb" -> Host.peakRssMb(),
      "load1m_before" -> loadBefore, "load1m_after" -> loadAfter) ++ out.info
    val metrics = out.metrics :+ (("live_heap_mb", Host.liveHeapMb(), "MB"))
    tracer.foreach(_.dump(args.traceOut,
      facts.toMap ++ metrics.map { case (n, v, _) => s"e2e.$n" -> v }))
    spark.stop()
    out.errors.take(20).foreach(e => System.err.println(s"[perfbench] wrong: $e"))
    println("@@result " + Json.obj(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "facts" -> facts.toMap)))
  }
}

object Host {
  private def read(path: String): String = new String(Files.readAllBytes(Path.of(path)), "UTF-8")

  def loadAvg1m(): Double = read("/proc/loadavg").split("\\s+")(0).toDouble

  /** `VmHWM` of this JVM: the peak resident set size, in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap still in use after a full collection: what the session, the
    * engine and its caches retain once the load has run. Unlike the JVM's
    * peak RSS, it does not depend on when the collector chose to grow the
    * heap. Spark's context cleaner frees unpersisted blocks only after a
    * collection has cleared their references, so this collects twice,
    * pausing for the cleaner in between.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(200)
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** CPU time this JVM has used, all threads, in ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes of every file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = Path.of(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Order statistics over recorded samples. */
object Stats {
  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
  /** The middle sample, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
