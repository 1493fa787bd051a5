package graft

import org.apache.spark.sql.SparkSession

/** One memo of registry-built artifacts (indexes, live stores, trained
  * models) per (session, data dir). The session is part of the key: an
  * artifact's DataFrames are session-bound, and a dir-only key would
  * serve a dead session's plan to a later one in the same JVM. Entries
  * whose SparkContext has stopped are evicted on every call, so the memo
  * never pins a dead session, its cached DataFrames and broadcasts for
  * the JVM lifetime. A concurrent first call may build twice; every
  * build is a pure function of its key (artifacts written to a shared
  * oracle path are overwritten whole), so either result serves.
  */
final class SessionMemo[T] {
  private val cache = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), T]

  def apply(s: SparkSession, dir: String)(build: => T): T = {
    cache.keySet.foreach(k => if (k._1.sparkContext.isStopped) cache.remove(k))
    cache.getOrElseUpdate((s, dir), build)
  }
}
