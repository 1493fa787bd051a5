package graft
object Bench {

  /** The seeded reference-shape concurrent workload (ANDs of 3-5 random
    * common TEXT words, README.md:192-204 shape) — one definition shared
    * by Bench and IngestLoadProbe (and the serving-under-scale runs in
    * SCALE.md's round-10 appendix), so each replays exactly the
    * benchmarked workload. Plain-token vocab only: a quote or
    * backslash in a sampled token would make the interpolated JEXL
    * unparseable and crash the whole run.
    */
  def concurrentWorkload(ix: ingest.WikiIndex, n: Int): Seq[String] = {
    val vocab = ix.globalIndex
      .filter(org.apache.spark.sql.functions.col("fieldName") === "TEXT")
      .select("fieldValue").distinct().collect().map(_.getString(0))
      .filter(_.matches("[A-Za-z0-9]+")).sorted
    val rnd = new scala.util.Random(42)
    Seq.fill(n) {
      val k = 3 + rnd.nextInt(3)
      Seq.fill(k)(vocab(rnd.nextInt(vocab.length)))
        .map(w => s"TEXT == '$w'").mkString(" and ")
    }
  }

  /** BENCH-ONLY key abbreviation: the numbered relational and wikisearch
    * queries drop their descriptive suffix ("q17_small_quantity_revenue"
    * -> "q17", "ws_q15_ne_numeric_on_text" -> "ws_q15") — the number
    * already identifies the query and the suffixes alone cost ~420 chars
    * of the ~1800-char tail-capture budget (round 5 printed 1806 chars +
    * its own truncation warning). Registry/CORRECTNESS names are
    * UNCHANGED; the mapping is documented in README.md's bench section.
    */
  /** Explicit line-budget abbreviations (README bench section): family
    * prefix keeps 1-2 chars, tag keeps 2-4. Registry/CORRECTNESS names
    * are UNCHANGED; the collision `require` below guards edits here.
    */
  private val shortMap = Map(
    "ws_near_q"            -> "ws_nq",
    "ws_fuzzy_q"           -> "ws_fq",
    "ws_fuzzy2_q"          -> "ws_f2",
    "ws_phrase_q"          -> "ws_pq",
    "ws_knear_q"           -> "ws_kq",
    "ws_onear_q"           -> "ws_oq",
    "ws_live_q"            -> "ws_lq",
    "ws_del_q"             -> "ws_dq",
    "ws_count_q"           -> "ws_ct",
    "ws_page_q"            -> "ws_pg",
    "ws_infix_q"           -> "ws_ix",
    "ws_syn_q"             -> "ws_sy",
    "ws_syn_persist_q"     -> "ws_sp",
    "ws_live_syn_q"        -> "ws_ls",
    "ws_fld_q"             -> "ws_fd",
    "ws_live_fld_q"        -> "ws_lf",
    "ws_asof_q"            -> "ws_ao",
    "ws_index_incremental" -> "ws_inc",
    "ws_index_termfreq"    -> "ws_itf",
    "ws_content_fetch"     -> "ws_cf",
    "ws_postings"          -> "ws_po",
    "ws_facets"            -> "ws_fa",
    "ws_hybrid"            -> "ws_hy",
    "ws_collapse_q"        -> "ws_cp",
    "ws_stats_q"           -> "ws_st",
    "ws_complete_q"        -> "ws_ac",
    "ws_hist_q"            -> "ws_hg",
    "ws_bm25"              -> "ws_bm",
    "ws_mlt_q"             -> "ws_ml",
    "ws_msnip"             -> "ws_ms",
    "ws_psnip"             -> "ws_ps",
    "ws_snip"              -> "ws_sn",
    "ws_near"              -> "ws_nr",
    "ws_fuzzy"             -> "ws_fz",
    "ws_phrase"            -> "ws_ph",
    "dd_embedding_neardup" -> "dd_emb",
    "dd_ngram_jaccard"     -> "dd_nj",
    "dd_minhash_lsh"       -> "dd_mh",
    "dd_keep_best"         -> "dd_kb",
    "dd_dup_spans"         -> "dd_ds",
    "dd_semdedup"          -> "dd_sd",
    "dd_simhash"           -> "dd_sh",
    "dd_cluster"           -> "dd_cl",
    "dd_exact"             -> "dd_ex",
    "dd_scrub"             -> "dd_sc",
    "sim_pairs_brute"      -> "s_pb",
    "sim_topk"             -> "s_tk",
    "sim_knn"              -> "s_kn",
    "sim_lsh_pairs"        -> "s_lp",
    "sim_lsh_multi"        -> "s_lm",
    "sim_ivf_topk"         -> "s_ivf",
    "sim_ivf_full_probe"   -> "s_ivff",
    "sim_ivf_filtered"     -> "s_ivfl",
    "sim_pq_topk"          -> "s_pq",
    "sim_ivfpq_topk"       -> "s_ivfpq",
    "sim_recall"           -> "s_rec",
    "sim_range"            -> "s_rg",
    "sim_rp"               -> "s_rp",
    "sim_mmr"              -> "s_mm",
    "sim_mmr_ivf"          -> "s_mi",
    "ta_stats"             -> "t_st",
    "ta_quality"           -> "t_q",
    "ta_langid"            -> "t_l",
    "ta_token_counts"      -> "t_tc",
    "ta_fingerprint"       -> "t_fp",
    "ta_repetition"        -> "t_rep",
    "ta_top_ngrams"        -> "t_ng",
    "ta_lm_score"          -> "t_lm",
    "ta_entropy"           -> "t_en",
    "ta_nb_langid"         -> "t_nb",
    "cu_split"             -> "c_sp",
    "cu_sample"            -> "c_sa",
    "cu_contam"            -> "c_ct",
    "cu_fuzzy_contam"      -> "c_fc",
    "cu_source_cap"        -> "c_cap",
    "cu_overlap"           -> "c_ov",
    "cu_mix"               -> "c_mx",
    "cu_redact"            -> "c_rd",
    "cu_pack"              -> "c_pk",
    "cu_quality_gate"      -> "c_qg",
    "cu_bloom"             -> "c_bl",
    "cu_shuffle"           -> "c_sh",
    "cu_temp"              -> "c_tp",
    "cu_budget"            -> "c_bu",
    "cu_manifest"          -> "c_mf",
    "cu_chunk"             -> "c_ck",
    "cu_dsir"              -> "c_dr",
    "cu_dsir_oov"          -> "c_do",
    "cu_wsample"           -> "c_ws",
    "cu_live_dsir"         -> "c_ld",
    "sim_live_asof"        -> "s_la",
    "mm_binary_meta"       -> "m_bm",
    "mm_feature_stub"      -> "m_fs",
    "mm_frame_sample"      -> "m_fr")

  /** Round-12 final compression on the COMPOSED short form: the numbered
    * wikisearch keys drop the redundant 'q' ("wq1" → "w1" — the family
    * letter + number already identify them) and the few keys still over
    * three chars get explicit 3-char forms. Registry/CORRECTNESS names
    * are UNCHANGED; README's bench table documents the full mapping and
    * the startup collision `require` guards the composition.
    */
  private val finalMap = Map(
    "winc"   -> "wic",
    "witf"   -> "wtf",
    "sivf"   -> "siv",
    "sivff"  -> "svf",
    "sivfl"  -> "svl",
    "sivfpq" -> "svq",
    "srec"   -> "sre",
    "ccap"   -> "cca")

  def shortName(name: String): String = {
    val s = name match {
      case s0 if shortMap.contains(s0)     => shortMap(s0)
      case s0 if s0.matches("q\\d+_.*")    => s0.takeWhile(_ != '_')
      case s0 if s0.matches("ws_q\\d+_.*") => "ws_" + s0.drop(3).takeWhile(_ != '_')
      case s0 => s0
    }
    // Final line-budget compression (round 10: 136 entries pushed the
    // line to 1768 chars, past the 1650 alarm): the family prefix keeps
    // ONE char and the separator drops — "ws_q1" -> "wq1", "ws_inc" ->
    // "winc", "dd_mh" -> "dmh", "s_rg" -> "srg", "t_nb" -> "tnb".
    // Registry/CORRECTNESS names are UNCHANGED; the startup collision
    // `require` still guards the whole composed mapping.
    val c =
      if (s.startsWith("ws_")) "w" + s.drop(3)
      else if (s.startsWith("dd_")) "d" + s.drop(3)
      else s.replaceFirst("_", "")
    val c2 = if (c.matches("wq\\d+")) "w" + c.drop(2) else c
    finalMap.getOrElse(c2, c2)
  }

  /** 1-minute load average from /proc/loadavg, printed compactly ("0.4",
    * "33.1"). Captured BEFORE any Spark work (ambient load — near 0 on a
    * quiet host) and again right before the JSON prints (our own local[N]
    * run contributes ~N; substantially above N = external contention).
    * Together they let a reader separate ambient host noise from code:
    * the r12 official 32-core run regressed 0.75 geomean purely on a
    * loaded host, and nothing in the artifact could prove it.
    */
  private def loadAvg1m(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split("\\s+")(0) finally s.close()
    } catch { case _: Throwable => "-1" }

  def main(args: Array[String]): Unit = {
    // Short-name uniqueness is knowable before ANY work — registry-only,
    // so check it before the SparkSession even exists: a future name
    // collision must fail fast, not after the index build, warm-up, and
    // concurrent section have burned minutes of discarded measurement
    // (the evidence-loss mode the line budget machinery prevents). "ib"
    // is appended to the JSON after abbreviation, so it participates.
    {
      val shorts = SparkEntry.registry.map(q => shortName(q.name)) :+ "ib"
      require(shorts.distinct.size == shorts.size,
        "bench short-name collision: " +
          shorts.diff(shorts.distinct).distinct.mkString(","))
    }
    val loadBefore = loadAvg1m() // ambient host load, before ANY work
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Deterministic order; a warm-up pass on the search-engine index so
    // per-query times measure query execution, not one-time index build
    // (the reference's baseline likewise measures queries against an
    // already-built index). Caches are lazy — force materialization.
    val ix = search.SearchQueries.index(spark, sfDir)
    val indexBuild = {
      val t0 = System.nanoTime()
      ix.globalIndex.count(); ix.events.count(); ix.termPostings.count()
      ix.docsFields.count(); ix.documents.count()
      (System.nanoTime() - t0) / 1e9
    }
    // Warm the engine serving path too (codegen compile + parquet footer
    // reads are one-time costs, not query execution — the reference
    // baseline likewise reports warm query times, README.md:199-204).
    // Terms must EXIST in the corpus: a no-hit term plans to an empty
    // LocalRelation and the whole join/filter path constant-folds away,
    // warming nothing.
    search.SearchQueries.engine(spark, sfDir)
      .run("TEXT == 'spark' and TEXT == 'join'").count()

    // Concurrent random-query throughput — measured FIRST, right after
    // the engine warm-up: it gauges the steady SERVING state, and
    // running it after the 65-query batch section made it measure that
    // section's accumulated heap/cache state instead (observed 3-7 qps
    // there vs ~24 in a fresh process on identical code).
    // The shape of the reference's baseline (~24-26 q/s aggregate on 10
    // nodes). Seeded, so the workload is identical across rounds.
    val nQueries = 40
    val workload = concurrentWorkload(ix, nQueries)
    val eng  = search.SearchQueries.engine(spark, sfDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    // One untimed pass first: the reference's baseline reports WARM
    // throughput (README.md:199-204 measures repeated clients against a
    // live cluster), so we measure the steady serving state — term cache
    // populated, codegen JIT'd — not first-touch costs.
    def runAll(): Seq[Long] = {
      val fs = workload.map(q => scala.concurrent.Future(eng.run(q).count()))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs), scala.concurrent.duration.Duration.Inf)
    }
    runAll()
    // FIVE timed passes; report the median AND the best. Identical code
    // has measured 1.4 s and 20 s for the same pass on this host (noisy
    // neighbors), so the median of too few passes still misreports by
    // 3×+ when contention clusters; the best pass is the least-
    // contaminated estimate of what the engine itself can serve.
    val (walls, resultsCnt) = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val counts = runAll()
      ((System.nanoTime() - t0) / 1e9, counts)
    }.unzip
    val sortedWalls = walls.sorted
    val concWall     = sortedWalls(sortedWalls.size / 2)
    val concWallBest = sortedWalls.head
    pool.shutdown()

    val names = SparkEntry.registry.map(_.name)
    // Median of three runs per query, but INTERLEAVED: three full passes
    // over the registry, median taken ACROSS passes. Back-to-back runs
    // share any sustained host-contention window (seconds long on this
    // host), which is how three consecutive registry entries once
    // recorded 10-30× their history despite per-query medians — all
    // three runs of each unlucky query sat inside the same window.
    // Interleaving puts ~20 s of other work between a query's runs, so
    // a window taints at most one pass per query and the cross-pass
    // median votes it out. Same total work as the back-to-back scheme;
    // first-touch costs (codegen compile, parquet footers) land in pass
    // 1 and are voted out the same way, matching the reference's
    // warm-time baseline.
    // Each run is guarded separately: a transient failure must not
    // discard the other valid measurements. -1 marks a fully-failed
    // query — never reported as a result.
    def guarded(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }
    val passes = Seq.fill(3)(names.map(n => n -> guarded(n)).toMap)
    val results = names.map { name =>
      val runs = passes.flatMap(_(name)).sorted
      // UPPER median (size/2): with one failed run the lower median
      // would degenerate to the min of the two survivors — exactly the
      // optimistic bias the median exists to avoid
      name -> (if (runs.isEmpty) -1.0 else runs(runs.size / 2))
    }

    // The harness that invokes this main captures only the LAST 2000
    // characters of the build output (measured exactly from BENCH_r11's
    // tail field), and an sbt success trailer (~76 chars) follows us —
    // so the JSON line's hard cap is ~1924 chars or its head gets
    // truncated and the whole report is unparseable. Round 11 hit 1764
    // with a full per-query JSON map, whose encoding floor (quotes,
    // 3-char keys) is ~1620 — structurally out of headroom. Round-12
    // restructure: the full per-query map moves into ONE compact STRING
    // field `qd` ("key:sec" space-separated, leading zeros dropped —
    // ~7 chars/entry instead of ~11), and the contract `queries` map
    // keeps the HEADLINE entries the round reports track (BASELINE
    // shapes + the TripleRun watchlist), so the driver's parsed artifact
    // still carries every per-query time plus a JSON map. Totals keep 3
    // decimals. Printing after spark.stop() guarantees no shutdown
    // logging lands between the JSON and end-of-output.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // Per-query values print with ~2 significant figures: sub-second at
    // 10 ms resolution, >=1 s at 100 ms (a 4% grid — finer than host
    // noise), trailing zeros stripped ("0.20" -> "0.2", "1.00" -> "1").
    // This also BOUNDS a slow run's line growth.
    def fq(v: Double): String = {
      val s = if (v >= 1) "%.1f".formatLocal(java.util.Locale.ROOT, v) else f2(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    // "ib" = one-time search-index materialization (named "index_build"
    // through round 5's BENCH_r json; shortened for line budget),
    // excluded from total. Keys print abbreviated — see shortName above.
    val shortResults =
      results.map { case (k, v) => (shortName(k), v) } :+ ("ib" -> indexBuild)
    // inside a string, values legally drop the leading zero (".73";
    // an exact "0" keeps its digit)
    def fqs(v: Double): String = {
      val s = fq(v)
      if (s.startsWith("0.")) s.drop(1) else s
    }
    val qd = shortResults
      .map { case (k, v) => k + ":" + fqs(v) }
      .mkString(" ")
    // The headline JSON map: the shapes BASELINE.md tracks (3-term AND,
    // AND-of-OR, TPC-H q3, exact quantile), the r11 TripleRun watchlist,
    // and one representative per pipeline family. Everything else is in
    // `qd` at identical precision.
    val headline = Set("w1", "w3", "q3", "q19", "q30", "q35", "why", "wfa",
      "wix", "wls", "cqg", "tst", "dmh", "siv", "sla", "ib")
    val qs = shortResults.filter(kv => headline(kv._1))
      .map { case (k, v) => "\"" + k + "\":" + fq(v) }
      .mkString("{", ",", "}")
    // "qm" = MIN-across-passes for the headline set, same compact
    // encoding as qd. The qd/queries medians vote out one contaminated
    // pass; when the whole run window is contaminated (r12's official
    // 32-core run) the min is the least-contaminated estimate of the
    // code itself — the per-query analogue of the concurrent block's
    // "best". "ib" is single-measured (one build), so it has no min.
    val qmins = names.map { name =>
      val runs = passes.flatMap(_(name))
      shortName(name) -> (if (runs.isEmpty) -1.0 else runs.min)
    }
    val qm = qmins.filter(kv => headline(kv._1))
      .map { case (k, v) => k + ":" + fqs(v) }
      .mkString(" ")
    val total = results.map(_._2).filter(_ >= 0).sum
    // resultsCnt is still computed (the workload must produce hits to
    // measure anything) but not reported: every concurrent key competes
    // with per-query resolution for line budget.
    require(resultsCnt.head.sum > 0, "concurrent workload returned zero hits")
    val sfName = new java.io.File(sfDir).getName
    // "best" = best-of-five-passes qps (named "qps_best" through round
    // 9's BENCH_r json; shortened for line budget).
    // "ld" = [1-min loadavg before any work, same right before print]:
    // ambient-vs-during host load, the contention self-identification
    // VERDICT r12 demanded (before ≈ 0 and after ≲ cpus on a quiet host).
    val loadAfter = loadAvg1m()
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"qd":"$qd","qm":"$qm","ld":[$loadBefore,$loadAfter],"sf":"$sfName","concurrent":{"n":$nQueries,"qps":${f2(nQueries / concWall)},"best":${f2(nQueries / concWallBest)}}}"""
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    // Headroom report + alarm, BEFORE the JSON: anything printed after
    // it would sit between the JSON and end-of-output and eat the very
    // tail budget it reports. Hard cap ~1924 (2000-char tail − sbt
    // trailer); the alarm fires at 1600 so there is still room to
    // re-compress before truncation is imminent.
    System.err.println(s"[bench] JSON line is ${line.length} chars; headroom ~${1924 - line.length} (tail cap ~1924)")
    if (line.length > 1600)
      System.err.println(s"[bench] WARNING: JSON line is ${line.length} chars (cap ~1924); re-compress qd before adding queries")
    println(line)
  }
}
