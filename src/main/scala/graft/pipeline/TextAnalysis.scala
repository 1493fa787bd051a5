package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokenizeWs

/** Text-analysis operators for training-data pipelines: per-document
  * statistics, quality signals, heuristic language ID, token counting,
  * and a portable document fingerprint. Everything is a single narrow
  * projection over the corpus — no shuffle at all — which is the shape
  * you want for a 100 TB scoring pass.
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")

  /** Per-document corpus statistics (all integer-valued — exact). */
  def stats(docs: DataFrame): DataFrame = {
    val tk = tokenizeWs(col("text"))
    docs.select(
      col("doc_id"),
      size(tk).as("n_tokens"),
      size(array_distinct(tk)).as("n_distinct"),
      size(filter(tk, t => t.isin(Stopwords: _*))).as("n_stopwords"),
      aggregate(tk, lit(0), (acc, t) => greatest(acc, length(t))).as("max_token_len"),
      length(col("text")).as("n_chars_text"),
      length(regexp_replace(col("text"), "[^a-z]", "")).as("n_alpha_chars"))
  }

  /** Quality score signals; the composite stays integer-scaled (×1000,
    * computed in integer arithmetic) so it is portable across engines.
    */
  def quality(docs: DataFrame): DataFrame = {
    val tk = tokenizeWs(col("text"))
    val nTok = size(tk)
    val nDis = size(array_distinct(tk))
    val nStop = size(filter(tk, t => t.isin(Stopwords: _*)))
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      // integer per-mille ratios: exact in any engine
      floor(nDis.cast("bigint") * 1000 / nTok).cast("bigint").as("distinct_permille"),
      floor(nStop.cast("bigint") * 1000 / nTok).cast("bigint").as("stopword_permille"),
      when(nTok >= 20 && nTok <= 1000 && nDis * 2 >= nTok, lit("keep"))
        .otherwise(lit("drop")).as("verdict"))
  }

  /** Heuristic language ID — stopword-evidence based. (On the synthetic
    * shared-vocabulary corpus this is a deterministic rule, not a model;
    * the Spark-side mechanics — scoring per doc over token arrays — are
    * what transfers to a real n-gram model.)
    */
  def langId(docs: DataFrame): DataFrame = {
    val tk = tokenizeWs(col("text"))
    val nStop = size(filter(tk, t => t.isin(Stopwords: _*)))
    docs.select(
      col("doc_id"),
      when(nStop * 5 >= size(tk), lit("en_heavy"))
        .when(array_contains(tk, "the"), lit("en_lite"))
        .otherwise(lit("unknown")).as("lang_pred"))
  }

  /** BPE-ish pre-tokenization pattern (the GPT-2 pre-tokenizer shape:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs). ASCII classes — the corpus is ASCII and the
    * pattern must mean the same thing to Spark (java.util.regex) and the
    * DuckDB oracle (RE2); both support these constructs identically.
    */
  val BpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9']+"

  /** Token counting for training-data budgeting: whitespace tokens vs
    * BPE-ish pre-tokens, plus chars-per-pretoken (integer per-mille).
    * A narrow projection — the 100 TB shape is one scan, no shuffle.
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val nWs  = size(tokenizeWs(col("text")))
    val nBpe = size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
    docs.select(
      col("doc_id"),
      nWs.as("n_ws_tokens"),
      nBpe.as("n_bpe_tokens"),
      floor(length(col("text")).cast("bigint") * 1000 /
        greatest(nBpe, lit(1)).cast("bigint")).cast("bigint").as("chars_per_bpe_permille"))
  }

  /** Portable positional fingerprint: Σ (i+1)·(31·len(tok_i) +
    * codepoint(tok_i[0])) mod 1e9+7. Deterministic integer arithmetic —
    * expressible identically in any SQL engine (the oracle re-derives
    * it), unlike a platform hash. A true rolling hash (used by the
    * dedup ops) is `Dedup.fnv1a`.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val tk = tokenizeWs(col("text"))
    val terms = transform(tk, (t, i) =>
      (i.cast("bigint") + 1) * (length(t).cast("bigint") * 31 + ascii(substring(t, 1, 1))))
    docs.select(
      col("doc_id"),
      (aggregate(terms, lit(0L), (acc, v) => acc + v) % 1000000007L).as("fingerprint"))
  }

  /** Repetition signals (the Gopher-rule family, Rae et al. 2021 §A1.1):
    * most-frequent-token share, most-frequent-bigram share, and the
    * duplicated-trigram share, each as an integer per-mille, plus a
    * keep/drop verdict. The published rules also include duplicate LINE
    * fractions; this corpus is single-line, so the n-gram family carries
    * the signal, with thresholds calibrated to cut this corpus's worst
    * decile (the published web-corpus thresholds barely fire on a
    * shared-vocabulary synthetic corpus).
    *
    * One compiled UDF pass per document (per-doc hash counting) — a
    * groupBy-per-n-gram formulation would shuffle the corpus once per n;
    * this stays a narrow projection, the right 100 TB shape for a
    * scoring pass. Integer arithmetic only, so the oracle re-derives it
    * exactly.
    */
  /** Per-document token-distribution entropy — the standard
    * low-entropy-garbage quality signal (boilerplate, keyword stuffing,
    * and generator loops score near 0; natural prose scores near
    * ln(n_distinct)). Reported as the UNNORMALIZED integer sum
    * ent_micro = −Σ_t round(c_t·ln(c_t/n)·10⁶) beside n_tokens
    * (consumers divide; Shannon entropy in micro-nats = ent_micro / n):
    * each term is quantized BEFORE the sum (the ta_nb_langid contract),
    * so the fold is exact integer arithmetic — order-independent under
    * any partitioning and bit-portable to the oracle, where a raw
    * float Σ p·ln p would hash-drift with aggregation order.
    *
    * Scale posture: one (doc, token) count shuffle + a per-doc window
    * over that doc's DISTINCT tokens (bounded by doc length, never
    * corpus-wide) + one keyed integer sum. Zero-token docs have no
    * rows, absent on both sides by construction.
    */
  def entropy(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs.select(col("doc_id"), explode(tokenizeWs(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("doc_id")
    occ.withColumn("n", sum(col("c")).over(w))
      .select(col("doc_id"), col("n"),
        round(col("c") * log(col("c").cast("double") / col("n").cast("double"))
          * lit(1000000.0)).cast("bigint").as("term"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"), (-sum(col("term"))).as("ent_micro"))
  }

  def repetition(docs: DataFrame): DataFrame = {
    val rep = udf { text: String =>
      if (text == null) null // null-propagate like the module's Column-based siblings
      else repSignals(text)
    }
    docs
      .select(col("doc_id"), rep(col("text")).as("r"))
      .select(
        col("doc_id"),
        col("r._1").as("n_tokens"),
        col("r._2").as("top_token_permille"),
        col("r._3").as("top_bigram_permille"),
        col("r._4").as("dup_trigram_permille"))
      .withColumn("verdict",
        when(col("top_token_permille") >= 140 ||
             col("top_bigram_permille") >= 80 ||
             col("dup_trigram_permille") >= 40, lit("drop"))
          .otherwise(lit("keep")))
  }

  private def repSignals(text: String): (Long, Long, Long, Long) = {
    val tk = text.split(" ").filter(_.nonEmpty)
    def permille(num: Long, den: Long): Long = if (den <= 0) 0L else num * 1000 / den
    val tokCounts = new scala.collection.mutable.HashMap[String, Long]
    tk.foreach(t => tokCounts.update(t, tokCounts.getOrElse(t, 0L) + 1))
    val topTok = permille(if (tokCounts.isEmpty) 0L else tokCounts.values.max, tk.length.toLong)
    val nBg = math.max(tk.length - 1, 0)
    val bgCounts = new scala.collection.mutable.HashMap[String, Long]
    var i = 0
    while (i < nBg) {
      val g = tk(i) + " " + tk(i + 1)
      bgCounts.update(g, bgCounts.getOrElse(g, 0L) + 1)
      i += 1
    }
    val topBg = permille(if (bgCounts.isEmpty) 0L else bgCounts.values.max, nBg.toLong)
    val nTg = math.max(tk.length - 2, 0)
    val tgSeen = new scala.collection.mutable.HashSet[String]
    var dupTg = 0L
    i = 0
    while (i < nTg) {
      val g = tk(i) + " " + tk(i + 1) + " " + tk(i + 2)
      if (!tgSeen.add(g)) dupTg += 1
      i += 1
    }
    (tk.length.toLong, topTok, topBg, permille(dupTg, nTg.toLong))
  }

  /** Corpus-LM familiarity score (the integer-exact cousin of CCNet-style
    * LM perplexity filtering, Wenzek et al. 2020): for each document, the
    * mean corpus document-frequency of its DISTINCT word trigrams, as a
    * per-mille of corpus size. Documents whose trigrams are rare across
    * the corpus (gibberish, boilerplate-free noise, OCR junk) score near
    * zero; documents built from common constructions score high. Unlike
    * real LM perplexity this needs no log() — platform log/exp differ in
    * the last ulp across engines, while this stays in pure integer
    * arithmetic until one final integer division, so the DuckDB oracle
    * re-derives it bit-exactly.
    *
    * Shape at 100 TB: trigram extraction is a narrow per-doc pass
    * (Dedup.shingles — the dedup ops' shared definition); the df table is
    * one partial-aggregable shuffle on the trigram string; the score join
    * is an equi-join on the same key, so it rides the same partitioning.
    * Nothing is pairwise and no state is driver-side except the corpus
    * row count. Docs with fewer than 3 tokens have no trigrams and no
    * score — callers treat absence as "unscorable", not "bad".
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val tri = Dedup.shingles(docs, n = 3)
    val dfTbl = tri.groupBy("shingle").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tri.join(dfTbl, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("df")).as("sum_df"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_tri"),
        expr("(1000 * sum_df) div (n_tri * n_docs)").as("fam_permille"))
  }

  /** TRAINED multinomial Naive Bayes classifier — the model-based
    * companion to the heuristic `langId` (the fastText-classifier shape
    * modern pipelines use for quality/language filtering, reduced to
    * its exactly-reproducible core). Trains per-label token counts with
    * Laplace smoothing on `train`, classifies each `test` document by
    * argmax of prior + Σ occurrences·log-likelihood.
    *
    * Determinism contract: every log-likelihood is QUANTIZED to an
    * integer (round(ln(p)·10⁶) — the quantized-inference idea applied
    * for bit-exact distributed reproducibility), so the per-document
    * fold is exact BIGINT arithmetic — order-independent under any
    * partitioning, and re-derivable by an oracle with no
    * float-association hazard. Test tokens unseen in training are
    * dropped (the standard NB contract); a test document with NO seen
    * tokens yields no row.
    *
    * Grouping contract (r12 argmax rewrite): predictions group by
    * (doc_id, `labelCol`) — one row per distinct (doc_id, actual) pair.
    * For the intended shape (doc_id unique per test row) that is
    * exactly one prediction per document; a caller passing duplicate
    * doc_ids under DIFFERENT actual labels gets one row per pair, not
    * per doc_id.
    *
    * Scale posture: the model is (TRAINING vocabulary × labels) rows —
    * bounded by the curated training corpus, not the classified one, so
    * the default broadcasts it into the scoring join; training is one
    * partial-aggregable count shuffle; scoring is the model join on
    * token + one keyed sum per (doc, label); the argmax window
    * partitions per doc over ≤|labels| rows. Nothing corpus-pairwise,
    * no driver-side model state. `broadcastModel` is the size dial for
    * a model past the broadcast threshold (web-scale vocabulary ×
    * many labels): false drops the hint, and the token-keyed scoring
    * join plans as a shuffled hash/sort-merge join instead — same
    * rows, same hash, no driver/executor-memory ceiling.
    */
  def nbClassify(train: DataFrame, test: DataFrame,
      labelCol: String = "lang", broadcastModel: Boolean = true): DataFrame = {
    val scale = lit(1000000.0)
    val tokTrain = train.select(col(labelCol).as("label"),
      explode(tokenizeWs(col("text"))).as("token"))
    // ONE pass over the exploded training corpus: `tot` (per-label token
    // total) and `vocab` both DERIVE from the (label, token) counts —
    // identical numbers (Σ cnt per label ≡ count of occurrences), and
    // the three subtrees share the one aggregation exchange
    // (ReusedExchange) instead of re-exploding the train table three
    // times. The downstream frames are model-sized, not corpus-sized.
    val cnt = tokTrain.groupBy("label", "token").agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy("label").agg(sum(col("cnt")).as("tot"))
    val vocab = cnt.select("token").distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val model = vocab.crossJoin(broadcast(tot))
      .join(cnt, Seq("label", "token"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(vSize))
      .select(col("label"), col("token"),
        round(log((col("cnt") + lit(1)).cast("double") /
          (col("tot") + col("v")).cast("double")) * scale)
          .cast("bigint").as("logp"))
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("ntot"))))
      .select(col("label"),
        round(log(col("nd").cast("double") / col("ntot").cast("double")) * scale)
          .cast("bigint").as("prior"))
    val occ = test.select(col("doc_id"), col(labelCol).as("actual"),
        explode(tokenizeWs(col("text"))).as("token"))
      .groupBy("doc_id", "actual", "token").agg(count(lit(1)).as("occ"))
    val modelSide = if (broadcastModel) broadcast(model) else model
    val scores = occ.join(modelSide, "token")
      .groupBy(col("doc_id"), col("actual"), col("label"))
      .agg(sum(col("occ") * col("logp")).as("ll"))
      .join(broadcast(priors), "label")
      .select(col("doc_id"), col("actual"), col("label"),
        (col("ll") + col("prior")).as("score"))
    // r12: per-doc argmax as a struct-min AGGREGATION instead of a
    // row_number window — partial-aggregable (map-side combined, no
    // per-partition sort), same shuffle key. Exact because scores are
    // quantized BIGINTs: min(struct(-score, label)) picks the highest
    // score, ties to the LEXICOGRAPHICALLY SMALLEST label — precisely
    // the window's (score DESC, label ASC) rank-1 row. The negation
    // cannot overflow: scores are sums of ~1e6-scaled log-likelihoods,
    // far inside the Long range.
    scores
      .groupBy("doc_id", "actual")
      .agg(min(struct((-col("score")).as("ns"), col("label").as("lb"))).as("best"))
      .select(col("doc_id"), col("actual"),
        col("best.lb").as("predicted"), (-col("best.ns")).as("score"))
      .orderBy("doc_id")
  }
}
