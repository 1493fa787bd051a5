package graft.functions

import graft.SparkSuite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("lcNoDiacritics strips combining marks and lowercases") {
    assert(TextFunctions.lcNoDiacritics("Ábacus") == "abacus")
    assert(TextFunctions.lcNoDiacritics("CAFÉ") == "cafe")
    assert(TextFunctions.lcNoDiacritics("Ñandú") == "nandu")
    assert(TextFunctions.lcNoDiacritics("plain") == "plain")
    assert(TextFunctions.lcNoDiacritics(null) == null)
  }

  test("tokenize: lowercase word split on non-alphanumerics, empties dropped") {
    val out = Seq("Hello, World! 42 foo_bar")
      .toDF("t").select(TextFunctions.tokenize($"t")).as[Seq[String]].collect().head
    assert(out == Seq("hello", "world", "42", "foo", "bar"))
  }

  test("tokenize and tokenizeWs equal their filter-lambda forms on random and edge-case text") {
    // the lambda forms both tokenizers had before they dropped empty
    // tokens with array_remove
    val markupLc = udf((s: String) => TextFunctions.lcNoDiacritics(TextFunctions.stripWikiMarkup(s)))
    def oldTokenize(t: Column) =
      filter(split(markupLc(t), "[^\\p{L}\\p{N}]+"), x => length(x) > 0)
    def oldTokenizeWs(t: Column) = filter(split(t, " "), x => length(x) > 0)
    val rnd = new scala.util.Random(17)
    val alphabet = "ab cD  é,.;!?-_'x9 \t\n[]{}|=:/ÀÑ"
    val random = Seq.fill(400)(Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val edges = Seq("", " ", "  ", "   ", " a", "a ", "  a  b  ", "a  b", ",a", "a,", ",,a,,b,,",
      "!!", "a!!b", " , ", "[[File:x.png]] a", "{{t}} b http://x.y c", "Ábacus CAFÉ")
    val df = (random ++ edges).map(Option(_)).:+(None).toDF("t")
    for ((name, now, old) <- Seq(("tokenize", TextFunctions.tokenize _, oldTokenize _),
        ("tokenizeWs", TextFunctions.tokenizeWs _, oldTokenizeWs _))) {
      val rows = df.select($"t", now($"t").as("now"), old($"t").as("old")).collect()
      assert(rows.length == random.length + edges.length + 1)
      rows.foreach { r =>
        assert(r.getAs[collection.Seq[String]]("now") == r.getAs[collection.Seq[String]]("old"),
          s"$name differs on ${Option(r.getString(0)).map(x => s"'$x'").getOrElse("null")}")
      }
      assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)), s"$name(null) must be null")
    }
  }

  test("jexlMatches is full-string and DOTALL") {
    val df = Seq("abc", "abcd", "a\nc").toDF("t")
    val m = df.filter(TextFunctions.jexlMatches($"t", "a.c")).as[String].collect().toSet
    // full-string: 'abcd' must NOT match (rlike alone would find-match it)
    assert(m == Set("abc", "a\nc")) // DOTALL: '.' crosses the newline
  }
}
