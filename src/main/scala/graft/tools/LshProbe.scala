package graft.tools

/** Diagnostic: decompose `dd_minhash_lsh`'s cost into CANDIDATE pairs
  * (band-bucket collisions — what LSH actually pays for) vs VERIFIED
  * pairs (exact Jaccard ≥ τ — the true output) per corpus, from the
  * operator's own stages (`Dedup.shingleSets`, `Dedup.minhashCandidates`).
  * The round-10 scaling appendix's claim that the sf10 second decade is
  * candidate-density-bound, not corpus-size-bound, is checked with this.
  * Usage: `LshProbe <sfDir>...`.
  */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.pipeline.Dedup
    args.foreach { dir =>
      val docs = graft.Tables.load(spark, dir, "documents")
      val sets = Dedup.shingleSets(docs, 3).cache()
      val cands = Dedup.minhashCandidates(sets, 32).count()
      val verified = Dedup.minhashPairs(docs, tau = 0.6).count()
      println(s"$dir docs=${docs.count()} candidates=$cands verified=$verified")
      sets.unpersist(); Dedup.minhashBands(sets, 32).unpersist()
    }
    spark.stop()
  }
}
