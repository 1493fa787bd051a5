package graft.query

import graft.functions.TextFunctions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a normalized query AST into a single Catalyst `Column`
  * predicate over the pivoted event view
  * (`fields: map<string, array<string>>`). Replaces the reference's
  * per-document JEXL evaluation (`query/.../parser/QueryEvaluator.java:208-288`)
  * with one codegen'd expression evaluated by Tungsten — the per-doc
  * interpretation loop disappears.
  *
  * Semantics preserved (SURVEY.md §2.2, §2.8):
  *  - any-match multi-value semantics (`QueryEvaluator.rewriteQuery:120-203`)
  *    via `exists` over the value array;
  *  - case-insensitive comparison (evaluator lowercases, `QueryEvaluator.java:208-288`);
  *  - JEXL type coercion: literal that parses as a number ⇒ numeric
  *    comparison via `try_cast`, else lowercased string comparison
  *    (`query/.../jexl/Arithmetic.java:136-192`);
  *  - `=~` is full-string DOTALL match (`Arithmetic.java:108-128`);
  *  - unevaluated fields (index-verified, e.g. TEXT when configured) are
  *    replaced with TRUE (`AbstractEvaluatingIterator.java:292-301`).
  */
object Compiler {

  private val numericRe = "^-?\\d+(\\.\\d+)?$".r
  def isNumeric(s: String): Boolean = numericRe.matches(s)

  /** Per-field normalization for residual string comparison: applied to
    * BOTH the value column and the query literal, so the residual agrees
    * with what the index matched (a literal normalized to 'acido' must
    * accept the raw value 'Ácido'). Default = case folding only (the
    * reference evaluator's behavior, `QueryEvaluator.java:208-288`);
    * fields with the lc-no-diacritics normalizer get the full transform.
    */
  case class FieldNorm(colFn: Column => Column, litFn: String => String)
  val DefaultNorm: FieldNorm = FieldNorm(lower, _.toLowerCase)

  /** Values array for a field out of the event map (null-safe empty). */
  private def values(field: String): Column =
    coalesce(col("fields").getItem(field), array())

  /** Two-valued any-match. Spark's `exists` is three-valued: when no
    * element matches but some per-element predicates are null (e.g.
    * `try_cast` of a non-numeric token), it returns NULL — and `!NULL`
    * is NULL, so a negation over such a field silently drops docs that
    * absence semantics say should match (`TEXT != '300'` over word
    * tokens). Coalescing to false restores the reference's two-valued
    * document-level negation (`BooleanLogicIterator.advanceNegatives:1809-1839`).
    */
  private def anyMatch(vs: Column, pred: Column => Column): Column =
    coalesce(exists(vs, pred), lit(false))

  private def leaf(t: Term, norms: Map[String, FieldNorm]): Column = {
    val vs   = values(t.field)
    val norm = norms.getOrElse(t.field, DefaultNorm)
    def anyValue(pred: Column => Column): Column = anyMatch(vs, pred)
    val lit_ = t.literal
    t.op match {
      case Op.EQ =>
        if (isNumeric(lit_)) anyValue(v => v.try_cast("double") === lit(lit_.toDouble))
        else anyValue(v => norm.colFn(v) === lit(norm.litFn(lit_)))
      case Op.NE =>
        // Absence semantics: NO value matches. This is what the reference's
        // negation machinery enforces at the document level (anti-probe J4,
        // `BooleanLogicIterator.advanceNegatives:1809-1839`): a doc whose
        // field contains the value anywhere is invalidated. (The literal
        // JEXL any-match rewrite never sees negated index fields.)
        if (isNumeric(lit_)) !anyValue(v => v.try_cast("double") === lit(lit_.toDouble))
        else !anyValue(v => norm.colFn(v) === lit(norm.litFn(lit_)))
      case Op.LT => cmp(vs, norm, lit_, (a, b) => a < b)
      case Op.LE => cmp(vs, norm, lit_, (a, b) => a <= b)
      case Op.GT => cmp(vs, norm, lit_, (a, b) => a > b)
      case Op.GE => cmp(vs, norm, lit_, (a, b) => a >= b)
      case Op.RE  => anyValue(v => TextFunctions.jexlMatches(norm.colFn(v), lit_))
      case Op.NRE => !anyValue(v => TextFunctions.jexlMatches(norm.colFn(v), lit_))
    }
  }

  private def cmp(vs: Column, norm: FieldNorm, literal: String,
      f: (Column, Column) => Column): Column =
    if (isNumeric(literal))
      anyMatch(vs, v => f(v.try_cast("double"), lit(literal.toDouble)))
    else
      anyMatch(vs, v => f(norm.colFn(v), lit(norm.litFn(literal))))

  /** `f:fuzzy`'s optional third arg (max edit distance): default 1,
    * bounded at 2 — the SymSpell neighborhood depth the engine's
    * expansion supports. ONE definition shared by the planner's
    * candidate generation and this compiler's exact verify, so the
    * two sides can never disagree on the distance.
    */
  private[query] def fuzzyDistOf(t: FnTerm): Int = {
    if (t.args.size < 3) 1
    else {
      val d =
        try t.args(2).toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"f:fuzzy maxDist must be an integer: '${t.args(2)}'") }
      require(d == 1 || d == 2, s"f:fuzzy maxDist must be 1 or 2: $d")
      d
    }
  }

  private def fn(t: FnTerm, norms: Map[String, FieldNorm]): Column = t.name match {
    // f:between(field, lo, hi) — QueryFunctions.java:26-46: numeric parse,
    // false on parse failure (try_cast null ⇒ condition null ⇒ filtered).
    case "between" if t.args.size == 3 =>
      val Seq(field, lo, hi) = t.args
      anyMatch(values(field.toUpperCase), v =>
        v.try_cast("double").between(lit(lo.toDouble), lit(hi.toDouble)))
    // f:fuzzy(field, term[, maxDist]) — typo-tolerant membership: some
    // value within Levenshtein distance maxDist (default 1, max 2) of
    // the term, both sides normalized the way the field's EQ comparison
    // normalizes. Fully residual-evaluable (unlike f:near), so it
    // composes anywhere — the engine's index expansion is purely an
    // access-path optimization. The threshold form of `levenshtein`
    // early-exits per value at maxDist+1.
    case "fuzzy" if t.args.size == 2 || t.args.size == 3 =>
      val field = t.args.head
      val term  = t.args(1)
      val norm  = norms.getOrElse(field.toUpperCase, DefaultNorm)
      anyMatch(values(field.toUpperCase), v =>
        levenshtein(norm.colFn(v), lit(norm.litFn(term)), fuzzyDistOf(t)) >= 0)
    case other =>
      throw new IllegalArgumentException(s"unsupported function f:$other/${t.args.size}")
  }

  /** `f:abs(field) <op> literal` — QueryFunctions.java:48-66. The
    * reference returns Integer.MIN_VALUE on parse failure; we use
    * try_cast's null (⇒ predicate false), documenting the deviation: a
    * sentinel that can accidentally satisfy `< x` is a bug, not a
    * behavior to preserve.
    */
  private def fnCmp(c: FnCmp): Column = c.fn.name match {
    case "abs" if c.fn.args.size == 1 =>
      val vs  = values(c.fn.args.head.toUpperCase)
      val l   = lit(c.literal.toDouble)
      def f(v: Column): Column = {
        val a = abs(v.try_cast("double"))
        c.op match {
          case Op.EQ => a === l;  case Op.NE => !(a === l)
          case Op.LT => a < l;    case Op.LE => a <= l
          case Op.GT => a > l;    case Op.GE => a >= l
          case other => throw new IllegalArgumentException(s"f:abs unsupported op $other")
        }
      }
      c.op match {
        case Op.NE => !anyMatch(vs, v => abs(v.try_cast("double")) === l)
        case _     => anyMatch(vs, f)
      }
    case other =>
      throw new IllegalArgumentException(s"unsupported function comparison f:$other")
  }

  /** Compile the normalized AST (negation lives in NE/NRE leaves, except
    * negated ranges which keep a `Not` wrapper — see `QExpr.normalize`).
    * Terms on `unevaluated` fields compile to TRUE — the index already
    * verified them (P8) — and so must their `Not`-wrapped forms (a
    * `!lit(true)` would turn the whole conjunction constant-false).
    * `norms` carries per-field normalizers from the metadata catalog
    * (literal-normalization rule, `RangeCalculator.java:339-343`).
    */
  def compile(
      e: QExpr,
      unevaluated: Set[String] = Set.empty,
      norms: Map[String, FieldNorm] = Map.empty,
      nearEnforced: Boolean = false): Column = e match {
    // f:near (pair form `TEXT, a, b, k` or k-term form `TEXT, k, t...`):
    // the pivoted event view holds the DISTINCT term set, not positions,
    // so this compiler CANNOT evaluate proximity. The engine's NearLeaf
    // enforces it from stored offsets and passes nearEnforced = true for
    // its residual; every other caller (full-scan fallback, standalone
    // evaluators like EngineEquivalenceSpec's scan oracle) must fail
    // loudly rather than silently match every document.
    case FnTerm(name @ ("near" | "onear"), args) if args.size >= 3 =>
      if (nearEnforced) lit(true)
      else throw new IllegalArgumentException(
        s"f:$name is not residual-evaluable (no positions in the event view); " +
          "it requires the engine's index-enforced plan")
    // f:phrase(TEXT, 'a b ...'): same contract — ordered adjacency needs
    // positions, which the event view does not hold.
    case FnTerm("phrase", args) if args.size == 2 =>
      if (nearEnforced) lit(true)
      else throw new IllegalArgumentException(
        "f:phrase is not residual-evaluable (no positions in the event view); " +
          "it requires the engine's index-enforced plan")
    case t: Term if unevaluated.contains(t.field) => lit(true)
    case Not(t: Term) if unevaluated.contains(t.field) => lit(true)
    case Not(c: FnCmp) if c.fn.args.headOption.exists(a => unevaluated.contains(a.toUpperCase)) =>
      lit(true)
    case c: FnCmp if c.fn.args.headOption.exists(a => unevaluated.contains(a.toUpperCase)) =>
      lit(true)
    case t: Term     => leaf(t, norms)
    case c: FnCmp    => fnCmp(c)
    case b: BareTerm => // planner rewrites these; residual fallback = TEXT token match
      anyMatch(values("TEXT"), v => lower(v) === lit(b.literal.toLowerCase))
    case f: FnTerm   => fn(f, norms)
    case And(cs)     => cs.map(compile(_, unevaluated, norms, nearEnforced)).reduce(_ && _)
    case Or(cs)      => cs.map(compile(_, unevaluated, norms, nearEnforced)).reduce(_ || _)
    case Not(c)      => !compile(c, unevaluated, norms, nearEnforced)
  }
}
