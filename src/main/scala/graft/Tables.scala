package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All data paths stay fully distributed: a loader returns a lazy
  * DataFrame; nothing here collects. At 100 TB these would be the same
  * calls pointed at an object store, with partition discovery and
  * predicate pushdown handled by the parquet source.
  */
object Tables {
  /** The running checkout's `target/` (above `target/scala-2.13/classes`), where a
    * run keeps what it writes for itself: two checkouts' runs never share it.
    */
  val BuildDir: String = java.nio.file.Paths.get(
    getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getParent.getParent.toString

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fan a RAW-SCAN relation out to the session's parallelism before a
    * CPU-heavy per-row pass (shingling, hashing, embedding math).
    * Parquet cannot split below a row group, so a small single-file
    * table scans as ONE partition and a heavy UDF over it runs
    * single-task no matter how many cores the session has. When the
    * source already has at least the session's parallelism (any
    * at-scale input) this is the identity.
    *
    * `key` names the column to hash-spread on and MUST be high-
    * cardinality (a doc/vec id): hashing a low-cardinality column would
    * silently keep the pass on few tasks. Hash, not round-robin:
    * RoundRobinPartitioning sorts each input partition first (retry
    * determinism) — pure waste here.
    *
    * The partition-count probe (`df.rdd.getNumPartitions`) is GUARDED by
    * a plan inspection: it is only safe on a raw scan (projections /
    * filters over a relation), where building the RDD lineage runs no
    * job. On any plan containing a shuffle-producing operator the probe
    * would eagerly materialize upstream exchange stages at plan-build
    * time — and such a plan has already been parallelized by its own
    * shuffle, so fanOut is the identity there by design, not just for
    * safety.
    */
  def fanOut(df: DataFrame, key: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Union is admitted: it is narrow (no shuffle, RDD lineage builds
    // without running a job) and a union of small raw scans is exactly
    // the few-partitions-needing-fan-out case this helper exists for.
    val rawScan = df.queryExecution.analyzed.collect { case p => p }.forall {
      case _: Project | _: Filter | _: SubqueryAlias | _: LeafNode => true
      case _: Union                                                => true
      case _                                                       => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!rawScan || df.rdd.getNumPartitions >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  /** `events.ts` arrives in one of two physical encodings depending on the
    * generator: parquet TIMESTAMP(NANOS) (read as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`, set in Sessions.builder) or
    * plain TIMESTAMP(MICROS) (read as a timestamp type). Both are exposed
    * under the SAME logical schema so every events query is
    * encoding-agnostic: `ts_nanos` (BIGINT epoch nanoseconds — the exact
    * integer arithmetic column q14/q20/q24/q25 session/range math uses)
    * plus a session-TZ timestamp `ts`. The DuckDB oracles read the file
    * directly via `epoch_ns(ts)`, which is likewise exact under either
    * encoding, so Spark and oracle agree bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_nanos")
          // integer `div`, not `/`: double division of ~1.7e18 ns loses the
          // low bits (ULP 256 ns) and can shift a timestamp by 1 µs
          .withColumn("ts", expr("timestamp_micros(ts_nanos div 1000)"))
      case TimestampType | TimestampNTZType =>
        // micros precision. Sessions pin the session TZ to UTC, so the
        // NTZ→TZ cast is value-preserving and unix_micros is exact integer
        // micros; ×1000 lifts to the nanos domain the downstream
        // arithmetic expects.
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_nanos", expr("unix_micros(ts) * 1000"))
      case other =>
        // Fail fast at load: a silent cast of an unforeseen encoding (a
        // future generator writing STRING/DOUBLE ts) would null out every
        // timestamp and corrupt all events queries downstream.
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected INT64 nanos or TIMESTAMP[_NTZ] micros")
    }
    // Both branches append their derived column last in different orders;
    // pin one column order so positional consumers (union-by-position,
    // rewritten-parquet comparisons) see an identical schema either way.
    val cols = Seq("ts", "ts_nanos") ++
      normalized.columns.filterNot(Set("ts", "ts_nanos"))
    normalized.select(cols.map(col): _*)
  }
}

/** SparkSession defaults shared by Verify / Bench / tests. */
object Sessions {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      : SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      // Shuffle-width dial for corpora far beyond the local fixture
      // (guide §2.2/§2.5): shuffles START at initialPartitionNum and
      // AQE coalesces DOWN to advisory-sized partitions from the
      // actual map output. Measured both ways at both scales
      // (OPTIMIZATION_r13.md §9): at sf100
      // q3's 600M-row orders⋈lineitem sort-merge join on the default
      // 32 partitions ran as spilling ~GB sorts — 939 s cold; started
      // at 512 and AQE-coalesced it is 404 s cold / 84 s warm. But a
      // FIXED 512 is a cluster constant: at sf0.1 it regressed the
      // bench 78→95 s (hundreds of near-empty map buckets per tiny
      // shuffle — cu_live_dsir 0.9→8.3 s), so the LOCAL default stays
      // = cpus (identical to spark.sql.shuffle.partitions — no
      // behavioral change at bench scale) and deployments size it from
      // data (≈ expected shuffle bytes / advisory size; the sf100 runs
      // set SPARK_GRAFT_INITIAL_PARTITIONS=512 ≈ 24 GB / 64 MB).
      // Serving sessions run AQE off and keep the fixed cpus count.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      // FAIR between the pools of `fairscheduler.xml` (a classpath
      // resource): live-store writes run in `ingest`, everything else in
      // `default`, which is FIFO inside — so a session with no live
      // writer schedules exactly as under FIFO mode, and a writer's
      // concurrent part writes cannot queue ahead of every reader job.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Parquet codec for everything the engine WRITES (saved search
      // index, live stores, verify dumps): zstd over the snappy default
      // (guide §6 — markedly smaller at similar read speed). Measured at
      // sf0.1 (OPTIMIZATION_r13.md): saved index −19% bytes (2.31→1.86
      // MB, dominated by per-file overhead at this tiny scale — the
      // ratio gap widens with real row groups), build and warm read
      // times at parity across alternating A/B windows. At 100 TB the
      // size delta is storage AND scan I/O. Env-overridable for A/Bs;
      // the driver-provided INPUT tables are whatever the driver wrote —
      // this only governs our own artifacts.
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
      // Shuffle/spill/broadcast codec (guide §2.3: zstd trades CPU for
      // ratio — "no universal answer, measure"). Alternating A/B at
      // sf0.1 over the shuffle-heaviest registry queries measured
      // parity-to-noise (OPTIMIZATION_r13.md), so the default stays
      // lz4: at local bench scale shuffle blocks are KBs and the zstd
      // CPU buys nothing. At 100 TB network-bound shuffles the ratio
      // wins — flip via env and re-measure there.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
}
