package graft.tools

import graft.ingest.{IndexBuilder, WikiIndex, XmlIngest}
import graft.streaming.{Compaction, LiveEngineMaintainer}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Diagnostic: dumps every index table as a sorted row multiset, one
  * file per table, so an ingest or live-store change can show it keeps
  * the rows of every table (`diff -r` the dumps of two checkouts).
  * Arrays and maps render sorted: `collect_list` and the UidList merge
  * order elements by shuffle arrival. Dumped: every `WikiIndex` table of
  * `fromDocumentsTable` (plain, and with a positional extra field) and
  * of `fromArticles` (plain, and with COMMENTS positional);
  * `documentIndexRows`; every part dir of two live stores (plain and
  * declared) after ingest, ingest, delete, ingest and a `compactEngine`
  * that keeps the subsumed deltas.
  *
  * Usage: `runMain graft.tools.DumpIndexTables <sfDir> <wiki.xml> <outDir>`
  */
object DumpIndexTables {
  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(render).sorted.mkString("[", ",", "]")
    case x => x.toString
  }

  /** `df`'s rows rendered and sorted, its columns in name order. */
  private[graft] def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(render).sorted.toSeq

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: DumpIndexTables <sfDir> <wiki.xml> <outDir>")
    val Array(sf, xml, out) = args
    val spark = graft.Sessions.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    def dump(name: String, df: DataFrame): Unit = {
      val rows = sortedRows(df)
      val w = new java.io.PrintWriter(s"$out/$name.txt")
      try { w.println(df.columns.sorted.mkString(",")); rows.foreach(w.println) } finally w.close()
      println(f"$name%-40s ${rows.length}%7d rows")
    }
    def dumpIndex(tag: String, ix: WikiIndex): Unit =
      (Seq("docsFields" -> ix.docsFields, "documents" -> ix.documents,
        "globalIndex" -> ix.globalIndex, "metadata" -> ix.metadata,
        "termPostings" -> ix.termPostings, "events" -> ix.events,
        "reverseIndex" -> ix.reverseIndex, "trigramIndex" -> ix.trigramIndex,
        "docLengths" -> ix.docLengths, "corpusStats" -> ix.corpusStats) ++
        ix.fieldPostings.map("fieldPostings" -> _)).foreach { case (n, df) => dump(s"${tag}_$n", df) }

    val docs = graft.Tables.load(spark, sf, "documents")
    val extra = Map("HEAD" ->
      concat_ws(" ", slice(graft.functions.TextFunctions.tokenizeWs(col("text")), 1, 5)))
    dumpIndex("docs", IndexBuilder.fromDocumentsTable(spark, docs, 8))
    dumpIndex("docs_extra", IndexBuilder.fromDocumentsTable(spark, docs, 8,
      extraFields = extra, offsetsFields = Set("HEAD")))
    dump("docs_indexRows", IndexBuilder.documentIndexRows(docs, 8))
    val articles = XmlIngest.readArticles(spark, xml)
    dumpIndex("wiki", IndexBuilder.fromArticles(spark, articles, 1))
    dumpIndex("wiki_offsets",
      IndexBuilder.fromArticles(spark, articles, 2, offsetsFields = Set("COMMENTS")))

    for ((tag, declared) <- Seq("live" -> Map.empty[String, Column], "live_extra" -> extra)) {
      val dir = java.nio.file.Files.createTempDirectory("dump-live").toString
      val m = new LiveEngineMaintainer(spark, dir, 8, extraFields = declared,
        offsetsFields = declared.keySet)
      m.processBatch(docs.filter(col("doc_id") % 3 === 0), 0L)
      m.processBatch(docs.filter(col("doc_id") % 3 === 1), 1L)
      m.processDeletes(docs.filter(col("doc_id") % 7 === 2).select("doc_id"), 2L)
      m.processBatch(docs.filter(col("doc_id") % 3 === 2), 3L)
      Compaction.compactEngine(spark, dir, deleteSubsumed = false)
      for {
        version <- new java.io.File(dir).list().filter(_.matches("[vc]\\d+")).sorted
        part <- new java.io.File(s"$dir/$version").list().sorted
      } dump(s"${tag}_${version}_$part", spark.read.parquet(s"$dir/$version/$part"))
    }
    spark.stop()
  }
}
