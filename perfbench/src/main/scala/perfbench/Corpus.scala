package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.BitSet

import scala.collection.mutable
import scala.util.Random

/** One generated `documents` row, in the table's own schema. */
final case class Doc(docId: Long, text: String, lang: String, source: String) {
  def nChars: Long = text.length.toLong
}

/** A seeded `documents` table shaped like the sf0.1 fixture: 5,000 docs,
  * a 30-word plain-token TEXT vocabulary, 8–100 tokens per doc (so each
  * word lands in ~78% of docs), five languages and 20 sources.
  *
  * It also carries the benchmark's oracle: per-word doc-id bitsets built
  * with whitespace tokenization, the semantics the registry's DuckDB
  * oracles use for `TEXT == 'w'`. Nothing here touches Spark or the
  * engine.
  */
final class Corpus(seed: Long, val size: Int = 5000) {
  import Corpus._

  val docs: IndexedSeq[Doc] = {
    val rnd = new Random(seed)
    (0 until size).map { i =>
      val n = 8 + rnd.nextInt(93)
      val text = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      val lang = if (rnd.nextDouble() < 0.41) "en" else OtherLangs(rnd.nextInt(OtherLangs.length))
      Doc(i.toLong, text, lang, s"src${i % 20}")
    }
  }

  /** word → ids of the docs whose whitespace tokens contain it */
  val postings: Map[String, BitSet] = {
    val m = Vocab.map(w => w -> new BitSet(size)).toMap
    docs.foreach(d => d.text.split(" ").filter(_.nonEmpty).foreach(w => m(w).set(d.docId.toInt)))
    m
  }

  def textBytes(ds: Iterable[Doc]): Long = ds.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
}

object Corpus {
  /** Sorted, like `Bench.concurrentWorkload`'s vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val OtherLangs = IndexedSeq("de", "es", "fr", "zh")
}

/** One request the benchmark sends, with the hit set it must return. */
final case class Query(text: String, expected: BitSet)

/** Seeded request streams. Every string a stream yields is new to the
  * run (`seen` is shared between warm-up and measured streams), so the
  * engine's parse memo cannot serve a measured request from warm-up.
  */
final class Queries(corpus: Corpus, seed: Long) {
  private val seen = mutable.HashSet.empty[String]

  private def and(sets: Seq[BitSet]): BitSet = {
    val r = sets.head.clone().asInstanceOf[BitSet]
    sets.tail.foreach(r.and)
    r
  }

  /** ANDs of 3–5 common TEXT words, drawn with `Bench.concurrentWorkload`'s
    * token rule (k = 3 + nextInt(3), each word uniform over the sorted
    * vocabulary), never repeating a string.
    */
  def hot(stream: Long): Iterator[Query] = {
    val rnd = new Random(seed * 1000003L + stream)
    Iterator.continually {
      val k = 3 + rnd.nextInt(3)
      val ws = Seq.fill(k)(Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length)))
      (ws.map(w => s"TEXT == '$w'").mkString(" and "), ws)
    }.filter { case (q, _) => seen.add(q) }
      .map { case (q, ws) => Query(q, and(ws.map(corpus.postings))) }
  }

  /** Warm-up ANDs that together touch every vocabulary word, so the term
    * cache holds all of them before measurement. Eight words an AND keeps
    * the list to four requests: one round of `search-hot`'s clients.
    */
  def cover: Seq[Query] =
    Corpus.Vocab.grouped(8).map { ws =>
      val q = ws.map(w => s"TEXT == '$w'").mkString(" and ")
      seen.add(q)
      Query(q, and(ws.map(corpus.postings)))
    }.toSeq
}
