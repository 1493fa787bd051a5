package graft.query

import graft.SparkSuite
import graft.ingest.IndexBuilder

import org.apache.spark.sql.functions._

/** Metamorphic soundness harness: for randomly generated boolean /
  * range / regex / function queries, the ENGINE's index-assisted path
  * (plan → batched leaf stats → local/distributed candidates →
  * semi/anti-joins → residual) must return exactly the docs the pure
  * full-scan residual returns. The residual compiler is the semantic
  * oracle (it is itself oracled cell-exact against DuckDB by the ws_*
  * queries), so any divergence is a planner bug: a dropped candidate,
  * an unsound range fusion, a bad negation prune, a normalizer
  * mismatch. Seeded — failures reproduce.
  */
class EngineEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  private val vocab = Seq(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mucron", "nuplex", "xiform", "omicron",
    "pivotal", "rhombus", "sigmoid", "tautology", "upsilon")

  private lazy val docsDf = {
    val langs   = Seq("en", "de", "fr")
    val sources = Seq("src1", "src2", "src3")
    val rows = (0 until 150).map { i =>
      val n    = 4 + rnd.nextInt(9)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, text, langs(i % langs.size), sources(rnd.nextInt(3)), text.length)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private lazy val ix  = IndexBuilder.fromDocumentsTable(spark, docsDf, numPartitions = 4).cacheAll()
  private lazy val eng = new WikiSearchEngine(spark, ix)

  private def word() = vocab(rnd.nextInt(vocab.size))

  private def leaf(): String = rnd.nextInt(11) match {
    case 0 => s"TEXT == '${word()}'"
    case 1 => s"TEXT != '${word()}'"
    case 2 => s"SOURCE == 'src${1 + rnd.nextInt(3)}'"
    case 3 => s"NCHARS >= ${20 + rnd.nextInt(40)}"
    case 4 => s"NCHARS < ${30 + rnd.nextInt(60)}"
    case 5 => s"TEXT =~ '${word().take(3)}.*'"
    case 6 => s"TEXT =~ '.*${word().takeRight(3)}'"
    case 7 => s"f:between(NCHARS, ${10 + rnd.nextInt(30)}, ${50 + rnd.nextInt(60)})"
    case 8 => s"TEXT != '${300 + rnd.nextInt(100)}'" // numeric NE over words (3VL regression)
    case 9 => // f:fuzzy over a 1- or 2-edit typo of a real word: the
      // index expansion (SymSpell superset + EQ-leaf probes, depth
      // matching the queried distance) must agree with the pure
      // levenshtein residual under ANY boolean composition
      def edit(s: String): String = rnd.nextInt(3) match {
        case 0 if s.length > 1 => s.drop(1)                  // deletion
        case 1 if s.nonEmpty   => s.updated(rnd.nextInt(s.length), 'q') // substitution
        case _                 => s + "x"                    // insertion
      }
      val w = word()
      if (rnd.nextInt(2) == 0) s"f:fuzzy(TEXT, '${edit(w)}')"
      else s"f:fuzzy(TEXT, '${edit(edit(w))}', 2)"
    case 10 => // opaque INFIX regex through the trigram access path,
      // verified against the residual's jexlMatches semantics
      val w = word()
      val start = rnd.nextInt(w.length - 2)
      s"TEXT =~ '.*${w.substring(start, start + 3 + rnd.nextInt(w.length - start - 2))}.*'"
  }

  private def expr(depth: Int): String =
    if (depth == 0) leaf()
    else rnd.nextInt(5) match {
      case 0 => s"(${expr(depth - 1)} and ${expr(depth - 1)})"
      case 1 => s"(${expr(depth - 1)} or ${expr(depth - 1)})"
      case 2 => s"not ${expr(depth - 1)}"
      case 3 => s"(${expr(depth - 1)} and ${expr(depth - 1)} and ${expr(depth - 1)})"
      case _ => leaf()
    }

  /** The oracle: pure residual evaluation over the full event view — no
    * index, no planning (the engine's own full-scan branch, applied
    * unconditionally).
    */
  private def scanIds(q: String, auths: Seq[String]): Set[String] = {
    val ast = QueryParser.parse(q)
    val ev  = if (auths.isEmpty) ix.events else ix.events.filter(col("language").isin(auths: _*))
    ev.filter(Compiler.compile(ast)).select("docId").collect().map(_.getString(0)).toSet
  }

  private def engineIds(q: String, auths: Seq[String]): Set[String] =
    eng.run(q, auths).select("docId").collect().map(_.getString(0)).toSet

  test("unevaluated-mode engine ≡ default engine on index-answerable queries") {
    // With TEXT unevaluated, the index decides TEXT-term truth. When
    // EVERY leaf is index-answerable (EQ / NE / prefix / suffix /
    // BOUNDED range — no single-sided ranges, no opaque or negated
    // regex), per-leaf candidate sets are exact (fi-style verification
    // through lossy fallbacks included), so OR-union / AND-intersect
    // composition is exact and results must equal the default engine's.
    // A single-sided range under an OR would legitimately diverge: it is
    // residual-only, and the reference's own rewriter drops it from the
    // index query while event evaluation sees the TRUE-substituted
    // disjunction — the same over-approximation we produce (documented
    // EngineConfig contract). Plan-None queries are skipped via the
    // planner probe for the same reason.
    // NE on the unevaluated field appears only as a DIRECT AND conjunct:
    // there the exact-postings anti-join (plus fi pruning for lossy rows)
    // enforces it. Inside an OR a negation cannot prune — the reference's
    // event evaluation sees the same TRUE-substituted branch, so that
    // divergence from the default engine is the documented contract.
    val engU = new WikiSearchEngine(spark, ix, EngineConfig(unevaluatedFields = Set("TEXT")))
    def safeLeaf(): String = rnd.nextInt(5) match {
      case 0 => s"TEXT == '${word()}'"
      case 1 => s"SOURCE == 'src${1 + rnd.nextInt(3)}'"
      case 2 => s"(NCHARS >= ${20 + rnd.nextInt(40)} and NCHARS < ${60 + rnd.nextInt(60)})"
      case 3 => s"TEXT =~ '${word().take(3)}.*'"
      case 4 => s"TEXT =~ '.*${word().takeRight(3)}'"
    }
    def safeExpr(depth: Int): String =
      if (depth == 0) safeLeaf()
      else rnd.nextInt(4) match {
        case 0 => s"(${safeExpr(depth - 1)} and ${safeExpr(depth - 1)})"
        case 1 => s"(${safeExpr(depth - 1)} or ${safeExpr(depth - 1)})"
        case 2 => s"(${safeLeaf()} and ${safeExpr(depth - 1)})"
        case _ => safeLeaf()
      }
    var checked = 0
    (1 to 40).foreach { i =>
      val base = safeExpr(1 + rnd.nextInt(2))
      val q =
        if (rnd.nextInt(3) == 0) s"($base and TEXT != '${word()}')"
        else base
      try {
        if (engU.indexAnswerable(q)) {
          val got  = engU.run(q).select("docId").collect().map(_.getString(0)).toSet
          val want = engineIds(q, Nil)
          assert(got == want,
            s"unevaluated divergence on #$i: $q\n unev=${got.toSeq.sorted}\n default=${want.toSeq.sorted}")
          checked += 1
        }
      } catch { case _: IllegalArgumentException => () }
    }
    assert(checked >= 20, s"only $checked unevaluated queries actually checked")
  }

  test("diacritic corpus: index path ≡ full-scan residual under the Lc normalizer") {
    // fromArticles indexes TITLE under BOTH NoOp and Lc and TEXT under Lc
    // (tokens normalized at build). Query literals with mixed case and
    // accents must agree between the probe expansion (probeForms /
    // graft_normalize at build) and the residual comparison
    // (Compiler.FieldNorm) — the metamorphic check is the same: engine
    // result ≡ residual-only full scan.
    import graft.ingest.Article
    val accented = Seq("ábaco", "cálculo", "función", "naïve", "Über", "plain", "café", "niño")
    val arts = (0 until 24).map { i =>
      val words = Seq.fill(5)(accented(rnd.nextInt(accented.size))) :+ s"w$i"
      Article(2000 + i, s"Títle$i", 1L, "c", words.mkString(" "), "eswiki")
    }
    val ixA  = IndexBuilder.fromArticles(spark, spark.createDataset(arts), 1).cacheAll()
    val engA = new WikiSearchEngine(spark, ixA)
    def scanA(q: String): Set[String] = {
      val ast = QueryParser.parse(q)
      // residual norms mirror the engine's: Lc fields compare through
      // graft_normalize (metadata-driven, same as WikiSearchEngine)
      val norms = Map(
        "TEXT" -> Compiler.FieldNorm(
          v => call_function("graft_normalize", v),
          graft.functions.TextFunctions.lcNoDiacritics),
        "TITLE" -> Compiler.FieldNorm(
          v => call_function("graft_normalize", v),
          graft.functions.TextFunctions.lcNoDiacritics))
      ixA.events.filter(Compiler.compile(ast, norms = norms))
        .select("docId").collect().map(_.getString(0)).toSet
    }
    var checked = 0
    (1 to 25).foreach { i =>
      val w = accented(rnd.nextInt(accented.size))
      val lit = rnd.nextInt(3) match {
        case 0 => w
        case 1 => graft.functions.TextFunctions.lcNoDiacritics(w) // folded form
        case 2 => w.toUpperCase
      }
      val q = rnd.nextInt(3) match {
        case 0 => s"TEXT == '$lit'"
        case 1 => s"TEXT == '$lit' and TEXT == '${accented(rnd.nextInt(accented.size))}'"
        case 2 => s"TEXT == '$lit' or TITLE == 'Títle${rnd.nextInt(24)}'"
      }
      val got  = engA.run(q, Seq("eswiki")).select("docId").collect().map(_.getString(0)).toSet
      val want = scanA(q)
      assert(got == want, s"diacritic divergence on #$i: $q\n engine=$got\n scan=$want")
      checked += 1
    }
    assert(checked == 25)
  }

  test("proximity leaves: f:near / f:phrase ≡ a positional oracle over the raw text") {
    // near and phrase are the two index-ENFORCED leaves — the residual
    // compiles them to TRUE, so the metamorphic residual oracle above
    // cannot check them. This oracle is computed driver-side from the
    // raw document text with the same tokenizer (tokenizeWs ≡ split on
    // single spaces), fully independent of postings, offsets, and the
    // planner: any divergence is a stored-offset or plan-composition
    // bug. Seeded — failures reproduce.
    val meta = docsDf.collect().map { r =>
      r.getLong(0).toString -> (r.getString(1).split(" "), r.getString(3))
    }.toMap
    def nearOracle(a: String, b: String, k: Int): Set[String] =
      meta.collect { case (id, (tk, _)) if {
        val pa = tk.zipWithIndex.collect { case (`a`, i) => i }
        val pb = tk.zipWithIndex.collect { case (`b`, i) => i }
        pa.exists(i => pb.exists(j => math.abs(i - j) <= k))
      } => id }.toSet
    def phraseOracle(ts: Seq[String]): Set[String] =
      meta.collect { case (id, (tk, _)) if tk.indices
        .exists(i => tk.slice(i, i + ts.size).sameElements(ts)) => id }.toSet
    def bySource(s: String): Set[String] =
      meta.collect { case (id, (_, src)) if src == s => id }.toSet

    var checked = 0
    (1 to 30).foreach { i =>
      val (a, b, k) = (word(), word(), rnd.nextInt(5))
      val want = nearOracle(a, b, k)
      assert(engineIds(s"f:near(TEXT, '$a', '$b', $k)", Nil) == want,
        s"near divergence #$i: f:near(TEXT,'$a','$b',$k)")
      // order-free by definition: swapped terms must agree too
      assert(engineIds(s"f:near(TEXT, '$b', '$a', $k)", Nil) == want,
        s"near asymmetry #$i: f:near(TEXT,'$b','$a',$k)")
      // conjunctive composition intersects exactly
      val src = s"src${1 + rnd.nextInt(3)}"
      assert(engineIds(s"SOURCE == '$src' and f:near(TEXT, '$a', '$b', $k)", Nil)
        == (want intersect bySource(src)),
        s"near composition divergence #$i: $src + f:near('$a','$b',$k)")
      checked += 1
    }
    // k-term window form: same positional oracle, n-way (window = max
    // position − min position ≤ k over one choice of occurrence each)
    def knearOracle(ts: Seq[String], k: Int): Set[String] =
      meta.collect { case (id, (tk, _)) if {
        val pos = ts.map(t => tk.zipWithIndex.collect { case (`t`, i) => i })
        pos.forall(_.nonEmpty) && pos.exists(_.exists(s =>
          pos.forall(_.exists(q => q >= s && q <= s + k))))
      } => id }.toSet
    (1 to 30).foreach { i =>
      val n  = 2 + rnd.nextInt(2) // 2- or 3-term windows
      val ts = Seq.fill(n)(word())
      val k  = rnd.nextInt(8)
      val q  = s"f:near(TEXT, $k, ${ts.map(t => s"'$t'").mkString(", ")})"
      val want = knearOracle(ts, k)
      assert(engineIds(q, Nil) == want, s"k-near divergence #$i: $q")
      // the 2-term window form must agree with the legacy pair form
      if (n == 2)
        assert(engineIds(s"f:near(TEXT, '${ts(0)}', '${ts(1)}', $k)", Nil) == want,
          s"k-near/legacy divergence #$i: $q")
      checked += 1
    }
    // ordered variant: strictly increasing positions in term order,
    // span ≤ k — the chain oracle mirrors Engine's nested-exists
    def onearOracle(ts: Seq[String], k: Int): Set[String] =
      meta.collect { case (id, (tk, _)) if {
        val pos = ts.map(t => tk.zipWithIndex.collect { case (`t`, i) => i })
        def chain(i: Int, prev: Int, start: Int): Boolean =
          i == pos.size ||
            pos(i).exists(q => q > prev && q <= start + k && chain(i + 1, q, start))
        pos.forall(_.nonEmpty) && pos.head.exists(p => chain(1, p, p))
      } => id }.toSet
    (1 to 20).foreach { i =>
      val n  = 2 + rnd.nextInt(2)
      val ts = Seq.fill(n)(word())
      val k  = rnd.nextInt(8)
      val q  = s"f:onear(TEXT, $k, ${ts.map(t => s"'$t'").mkString(", ")})"
      assert(engineIds(q, Nil) == onearOracle(ts, k), s"onear divergence #$i: $q")
      checked += 1
    }
    (1 to 30).foreach { i =>
      // half the draws take a REAL adjacent n-gram from a random doc
      // (guaranteed hits); half are random vocab pairs (mostly misses)
      val ts: Seq[String] =
        if (rnd.nextInt(2) == 0) {
          val tk = meta(rnd.nextInt(150).toString)._1
          val n  = 2 + rnd.nextInt(math.min(2, tk.length - 1))
          val at = rnd.nextInt(tk.length - n + 1)
          tk.slice(at, at + n).toSeq
        } else Seq(word(), word())
      val q    = s"f:phrase(TEXT, '${ts.mkString(" ")}')"
      val want = phraseOracle(ts)
      assert(engineIds(q, Nil) == want, s"phrase divergence #$i: $q")
      val src = s"src${1 + rnd.nextInt(3)}"
      assert(engineIds(s"SOURCE == '$src' and $q", Nil) == (want intersect bySource(src)),
        s"phrase composition divergence #$i: $src + $q")
      checked += 1
    }
    assert(checked == 110)
  }

  test("60 random queries: index-assisted path ≡ full-scan residual (incl. auths)") {
    var checked = 0
    (1 to 60).foreach { i =>
      val q     = expr(1 + rnd.nextInt(2))
      val auths = if (rnd.nextInt(4) == 0) Seq("en", "de") else Nil
      try {
        val got  = engineIds(q, auths)
        val want = scanIds(q, auths)
        assert(got == want,
          s"divergence on query #$i: $q (auths=$auths)\n engine=${got.toSeq.sorted}\n scan=${want.toSeq.sorted}")
        // the count fast path must agree with the residual truth on any
        // shape it claims (most of these queries fall back — the
        // dedicated EQ/NE-only loop below is the engagement test; this
        // one guards the DECISION: a shape fastCount wrongly claims
        // surfaces here as an over- or under-count)
        eng.fastCount(q, auths).foreach { n =>
          assert(n == want.size.toLong,
            s"fastCount divergence on query #$i: $q (auths=$auths): fast=$n scan=${want.size}")
        }
        checked += 1
      } catch {
        case _: IllegalArgumentException => () // all-negation rejected by design
      }
    }
    assert(checked >= 40, s"only $checked queries actually checked")
  }

  test("random boolean queries with proximity + synonym leaves ≡ substituted residual oracle") {
    // Round-9 added two pre-planning semantics (synonym expansion) and
    // one new leaf family (field-generic proximity). This property puts
    // BOTH under the same index-vs-scan oracle as the EQ/NE/range
    // property above, under arbitrary AND/OR/NOT composition to depth 3.
    //
    // The residual compiler compiles proximity leaves to TRUE (they are
    // index-ENFORCED), so the raw scan cannot oracle them. Instead each
    // generated query is produced as a PAIR (engine form, oracle form)
    // with leaf-level substitution:
    //  - a proximity leaf (f:near / f:onear / f:phrase, on TEXT or on
    //    the DECLARED positional field COMMENTS) becomes a disjunction
    //    of ID == '<doc>' over the docs a driver-side positional oracle
    //    (raw-text token positions, independent of postings and planner)
    //    says match — sound under any boolean composition because both
    //    the leaf and its substitute are 2-valued (never NULL);
    //  - a synonym-bearing TEXT EQ/NE leaf becomes its hand-written
    //    expansion (EQ → OR over the set, NE → AND of exclusions),
    //    independently restating the intended semantics rather than
    //    reusing the engine's rewriter.
    // The oracle form then runs through the SAME pure full-scan residual
    // as the base property, so 3VL composition of everything else is
    // preserved. The engine's placement rule (proximity is conjunctive-
    // only) shapes the generator: proximity leaves are drawn only while
    // the path from the root is all-AND; OR and NOT flip the subtree to
    // plain+synonym leaves.
    val synMap = Map(
      "alpha"   -> Seq("beta"),
      "gamma"   -> Seq("delta", "epsilon"),
      "sigmoid" -> Seq("rhombus"))
    val docsP = docsDf.withColumn("comments",
      concat_ws(" ", slice(split(col("text"), " "), 1, 6)))
    val ixP  = IndexBuilder.fromDocumentsTable(spark, docsP, numPartitions = 4,
      extraFields = Map("COMMENTS" -> col("comments")),
      offsetsFields = Set("COMMENTS")).cacheAll()
    val engP = new WikiSearchEngine(spark, ixP, EngineConfig(synonyms = synMap))
    val toksByField: Map[String, Map[String, Array[String]]] = {
      val rows = docsP.select("doc_id", "text", "comments").collect()
      Map(
        "TEXT"     -> rows.map(r => r.getLong(0).toString -> r.getString(1).split(" ")).toMap,
        "COMMENTS" -> rows.map(r => r.getLong(0).toString -> r.getString(2).split(" ")).toMap)
    }
    def pairNear(field: String, a: String, b: String, k: Int): Set[String] =
      toksByField(field).collect { case (id, tk) if {
        val pa = tk.zipWithIndex.collect { case (`a`, i) => i }
        val pb = tk.zipWithIndex.collect { case (`b`, i) => i }
        pa.exists(i => pb.exists(j => math.abs(i - j) <= k))
      } => id }.toSet
    def onear(field: String, ts: Seq[String], k: Int): Set[String] =
      toksByField(field).collect { case (id, tk) if {
        val pos = ts.map(t => tk.zipWithIndex.collect { case (`t`, i) => i })
        def chain(i: Int, prev: Int, start: Int): Boolean =
          i == pos.size ||
            pos(i).exists(q => q > prev && q <= start + k && chain(i + 1, q, start))
        pos.forall(_.nonEmpty) && pos.head.exists(p => chain(1, p, p))
      } => id }.toSet
    def phrase(field: String, ts: Seq[String]): Set[String] =
      toksByField(field).collect { case (id, tk) if tk.indices
        .exists(i => tk.slice(i, i + ts.size).sameElements(ts)) => id }.toSet
    def idsOr(ids: Set[String]): String =
      if (ids.isEmpty) "ID == '-1'"
      else ids.toSeq.sorted.map(id => s"ID == '$id'").mkString("(", " or ", ")")
    // a real adjacent bigram from a random doc of the given field —
    // guaranteed phrase/onear hits (random vocab pairs mostly miss)
    def realBigram(field: String): Seq[String] = {
      val tk = toksByField(field)(rnd.nextInt(150).toString)
      if (tk.length < 2) Seq(word(), word())
      else { val at = rnd.nextInt(tk.length - 1); Seq(tk(at), tk(at + 1)) }
    }
    def proxLeaf(): (String, String) = {
      val field = if (rnd.nextInt(2) == 0) "TEXT" else "COMMENTS"
      rnd.nextInt(4) match {
        case 0 =>
          val (a, b, k) = (word(), word(), rnd.nextInt(5))
          (s"f:near($field, '$a', '$b', $k)", idsOr(pairNear(field, a, b, k)))
        case 1 =>
          val ts = if (rnd.nextInt(2) == 0) realBigram(field) else Seq(word(), word())
          val k  = rnd.nextInt(6)
          // the k-form window is order-free: span ≤ k over one
          // occurrence each — for 2 terms that is exactly |i-j| ≤ k
          (s"f:near($field, $k, ${ts.map(t => s"'$t'").mkString(", ")})",
            idsOr(pairNear(field, ts.head, ts.last, k)))
        case 2 =>
          val ts = if (rnd.nextInt(2) == 0) realBigram(field) else Seq(word(), word())
          val k  = rnd.nextInt(6)
          (s"f:onear($field, $k, ${ts.map(t => s"'$t'").mkString(", ")})",
            idsOr(onear(field, ts, k)))
        case _ =>
          val ts = if (rnd.nextInt(2) == 0) realBigram(field) else Seq(word(), word())
          (s"f:phrase($field, '${ts.mkString(" ")}')", idsOr(phrase(field, ts)))
      }
    }
    def plainLeaf(): (String, String) = rnd.nextInt(6) match {
      case 0 =>
        val w = word()
        val o = synMap.get(w).map(alts =>
          (w +: alts).map(a => s"TEXT == '$a'").mkString("(", " or ", ")"))
          .getOrElse(s"TEXT == '$w'")
        (s"TEXT == '$w'", o)
      case 1 =>
        val w = word()
        val o = synMap.get(w).map(alts =>
          (w +: alts).map(a => s"TEXT != '$a'").mkString("(", " and ", ")"))
          .getOrElse(s"TEXT != '$w'")
        (s"TEXT != '$w'", o)
      case 2 =>
        // force a synonym key half the time so expansion is actually hot
        val w = synMap.keys.toSeq.sorted.apply(rnd.nextInt(synMap.size))
        val o = (w +: synMap(w)).map(a => s"TEXT == '$a'").mkString("(", " or ", ")")
        (s"TEXT == '$w'", o)
      case 3 =>
        val s0 = s"SOURCE == 'src${1 + rnd.nextInt(3)}'"; (s0, s0)
      case 4 =>
        val s0 = s"NCHARS >= ${20 + rnd.nextInt(40)}"; (s0, s0)
      case _ =>
        val s0 = s"NCHARS < ${30 + rnd.nextInt(60)}"; (s0, s0)
    }
    def gen(depth: Int, conj: Boolean): (String, String) = {
      if (depth == 0) {
        if (conj && rnd.nextInt(3) == 0) proxLeaf() else plainLeaf()
      } else rnd.nextInt(5) match {
        case 0 =>
          val (a1, o1) = gen(depth - 1, conj); val (a2, o2) = gen(depth - 1, conj)
          (s"($a1 and $a2)", s"($o1 and $o2)")
        case 1 =>
          val (a1, o1) = gen(depth - 1, conj = false); val (a2, o2) = gen(depth - 1, conj = false)
          (s"($a1 or $a2)", s"($o1 or $o2)")
        case 2 =>
          val (a1, o1) = gen(depth - 1, conj = false)
          (s"not $a1", s"not $o1")
        case 3 =>
          val (a1, o1) = gen(depth - 1, conj); val (a2, o2) = gen(depth - 1, conj)
          val (a3, o3) = gen(depth - 1, conj)
          (s"($a1 and $a2 and $a3)", s"($o1 and $o2 and $o3)")
        case _ => if (conj && rnd.nextInt(3) == 0) proxLeaf() else plainLeaf()
      }
    }
    def scanIdsP(q: String): Set[String] = {
      val ast = QueryParser.parse(q)
      ixP.events.filter(Compiler.compile(ast))
        .select("docId").collect().map(_.getString(0)).toSet
    }
    var checked = 0
    var proxChecked = 0
    var synChecked = 0
    (1 to 120).foreach { i =>
      val (engQ, oraQ) = gen(1 + rnd.nextInt(3), conj = true)
      try {
        val got  = engP.run(engQ).select("docId").collect().map(_.getString(0)).toSet
        val want = scanIdsP(oraQ)
        assert(got == want,
          s"divergence on query #$i:\n engineQ=$engQ\n oracleQ=$oraQ\n engine=${got.toSeq.sorted}\n scan=${want.toSeq.sorted}")
        // the count fast path must agree on any shape it claims here too
        engP.fastCount(engQ).foreach { n =>
          assert(n == want.size.toLong,
            s"fastCount divergence on #$i: $engQ: fast=$n scan=${want.size}")
        }
        checked += 1
        if (engQ.contains("f:")) proxChecked += 1
        if (synMap.keys.exists(k =>
          engQ.contains(s"TEXT == '$k'") || engQ.contains(s"TEXT != '$k'"))) synChecked += 1
      } catch {
        case _: IllegalArgumentException => () // rejected placement / all-negation
      }
    }
    assert(checked >= 80, s"only $checked queries actually checked")
    assert(proxChecked >= 15, s"only $proxChecked proximity-bearing queries checked")
    assert(synChecked >= 15, s"only $synChecked synonym-bearing queries checked")
  }

  test("40 random EQ/NE-only queries: the count fast path engages and equals the residual truth") {
    // every posting in this corpus is exact (df ≈ 50 spread over 12
    // (partition, language) shards stays under MAX=20), so an EQ/NE-only
    // boolean MUST take the index-only branch — and its count must
    // equal the full-scan residual's. This is the exactness contract
    // `exactCountable` claims, under arbitrary AND/OR/NE composition.
    def eqLeaf(): String = rnd.nextInt(4) match {
      case 0 => s"TEXT == '${word()}'"
      case 1 => s"TEXT != '${word()}'"
      case 2 => s"SOURCE == 'src${1 + rnd.nextInt(3)}'"
      case _ => s"TEXT == '${word()}'"
    }
    def eqExpr(depth: Int): String =
      if (depth == 0) eqLeaf()
      else rnd.nextInt(4) match {
        case 0 => s"(${eqExpr(depth - 1)} and ${eqExpr(depth - 1)})"
        case 1 => s"(${eqExpr(depth - 1)} or ${eqExpr(depth - 1)})"
        case 2 => s"(${eqExpr(depth - 1)} and ${eqExpr(depth - 1)} and ${eqLeaf()})"
        case _ => eqLeaf()
      }
    var engaged = 0
    // depth up to 3 and 80 trials: deep nesting is what produces the
    // shapes the exactCountable guard exists for — all-negative And
    // branches under OR buried inside a conjunction (the round-9
    // overcount fix's habitat); the always-on exactness assert below is
    // the property that catches a wrongly-claimed shape
    (1 to 80).foreach { i =>
      val q = eqExpr(1 + rnd.nextInt(3))
      try {
        val want = scanIds(q, Nil).size.toLong
        // NE under OR falls back by design; anything else must engage
        val fast = eng.fastCount(q)
        val neUnderOr = q.contains(" or ") && q.contains("!=") // operator token, not a vocab substring
        if (!neUnderOr)
          assert(fast.isDefined, s"expected fast path for EQ/NE query #$i: $q")
        fast.foreach { n =>
          assert(n == want, s"fastCount divergence on EQ/NE query #$i: $q: fast=$n scan=$want")
          engaged += 1
        }
        assert(eng.countDocs(q).collect().head.getLong(0) == want, q)
      } catch {
        case _: IllegalArgumentException => () // all-negation rejected by design
      }
    }
    assert(engaged >= 40, s"fast path engaged only $engaged/80 times")
  }
}
