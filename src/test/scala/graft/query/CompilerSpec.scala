package graft.query

import graft.SparkSuite

import org.apache.spark.sql.functions._

/** Residual-predicate semantics over the pivoted event view, exercised
  * directly on constructed `fields` maps — pins the multi-value any-match
  * rewrite (`QueryEvaluator.rewriteQuery:120-203`), NE/NRE absence
  * semantics (anti-probe J4), coercion, and case-insensitivity.
  */
class CompilerSpec extends SparkSuite {
  import spark.implicits._

  // doc 1: COLOR in {red, blue}; doc 2: COLOR = {green}; doc 3: no COLOR
  private lazy val events = Seq(
    (1L, Map("COLOR" -> Seq("red", "blue"), "N" -> Seq("5"))),
    (2L, Map("COLOR" -> Seq("green"), "N" -> Seq("15"))),
    (3L, Map("N" -> Seq("7.5")))
  ).toDF("docId", "fields")

  private def ids(q: String): Set[Long] =
    events.filter(Compiler.compile(QueryParser.parse(q)))
      .select("docId").as[Long].collect().toSet

  test("multi-value EQ is any-match") {
    assert(ids("COLOR == 'red'") == Set(1L))
    assert(ids("COLOR == 'blue'") == Set(1L))
    assert(ids("COLOR == 'green'") == Set(2L))
  }

  test("EQ is case-insensitive on both sides") {
    assert(ids("COLOR == 'RED'") == Set(1L))
    assert(ids("color == 'Red'") == Set(1L))
  }

  test("NE is absence: no value may match, missing field satisfies") {
    assert(ids("N >= 0 and COLOR != 'red'") == Set(2L, 3L))
  }

  test("negated range is forall, not any-match (multi-value)") {
    // doc 1: N = {5}; doc 2: N = {15}; doc 3: N = {7.5}
    // not(N < 10): doc 1 has a value < 10 → excluded; doc 2 kept
    assert(ids("COLOR == 'green' and not N < 10") == Set(2L))
    assert(ids("N >= 0 and not N < 10") == Set(2L))
  }

  test("numeric coercion compares as double, not lexicographically") {
    assert(ids("N > 6") == Set(2L, 3L)) // '15' > 6 numerically; '5' is not
    assert(ids("N <= 7.5") == Set(1L, 3L))
  }

  test("regex full match with any-match over values") {
    assert(ids("COLOR =~ 'r.d'") == Set(1L))
    assert(ids("COLOR =~ 'r.'").isEmpty) // full-string, not find
    assert(ids("N >= 0 and COLOR !~ 'gr.*'") == Set(1L, 3L))
  }

  test("f:between inclusive bounds with parse-failure-as-false") {
    assert(ids("f:between(N, 5, 10)") == Set(1L, 3L))
    assert(ids("f:between(COLOR, 0, 9)").isEmpty) // non-numeric values
  }

  test("f:abs comparison") {
    assert(ids("f:abs(N) >= 7") == Set(2L, 3L))
  }

  test("f:near outside the engine's enforced plan fails loudly, never match-all") {
    // the event view has no positions — a standalone evaluator (full
    // scan, the ground truth of EngineEquivalenceSpec) must throw, not
    // return every doc
    val e = intercept[IllegalArgumentException](
      Compiler.compile(QueryParser.parse("f:near(TEXT, 'a', 'b', 2)")))
    assert(e.getMessage.contains("index-enforced"))
    // under the engine's flag (NearLeaf intersection applied) it is TRUE
    val c = Compiler.compile(
      QueryParser.parse("N >= 0 and f:near(TEXT, 'a', 'b', 2)"), nearEnforced = true)
    val got = events.filter(c).select("docId").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("unevaluated field compiles to TRUE") {
    val c = Compiler.compile(QueryParser.parse("COLOR == 'nope' and N >= 0"), Set("COLOR"))
    val got = events.filter(c).select("docId").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("Not-wrapped unevaluated term also compiles to TRUE, not constant FALSE") {
    val c = Compiler.compile(
      QueryParser.parse("N >= 0 and not COLOR < 'm'"), Set("COLOR"))
    val got = events.filter(c).select("docId").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("standalone negated range runs as a full-scan query") {
    // ¬any(N < 10): doc 1 (5) excluded, doc 2 (15) kept, doc 3 (7.5) excluded
    assert(ids("not N < 10") == Set(2L))
  }

  test("numeric NE over non-numeric values is two-valued, not NULL-dropped") {
    // COLOR values are words: every try_cast('double') is null, so the
    // un-coalesced exists would be NULL and !NULL drops the doc. Absence
    // semantics: no value equals 300 ⇒ the doc matches.
    assert(ids("N >= 0 and COLOR != '300'") == Set(1L, 2L, 3L))
    assert(ids("COLOR == 'red' and COLOR != '300'") == Set(1L))
  }

  test("negated numeric range over non-numeric values is two-valued") {
    // not(COLOR < 42): no COLOR token casts to a number < 42 ⇒ matches
    assert(ids("COLOR == 'red' and not COLOR < '42'") == Set(1L))
    assert(ids("N >= 0 and not COLOR < '42'") == Set(1L, 2L, 3L))
  }

  test("f:abs NE over non-numeric values is two-valued") {
    assert(ids("COLOR == 'red' and f:abs(COLOR) != 3") == Set(1L))
  }
}
