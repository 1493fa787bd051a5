package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one band join behind every LSH, MinHash, SimHash, SemDeDup and
  * fuzzy-decontamination pair source. A `Pairing` says how the two
  * sides' ids relate: `Self` is one table with itself (each unordered
  * pair once, a < b); `SharedIds` is two tables over ONE id space (old ×
  * new: never a = b); `DisjointIds` is two tables over disjoint id
  * spaces (corpus × eval: no id predicate, equal ids are different docs).
  */
private[pipeline] object Banding {
  sealed trait Pairing
  case object Self extends Pairing
  case object SharedIds extends Pairing
  case object DisjointIds extends Pairing

  /** Pairs of `x` and `y` (the same frame for `Self`) that agree on
    * every `keys` column: `a` is the x-side id, `b` the y-side id, and
    * each `payload` column p comes back as `a_p` and `b_p`. No distinct:
    * callers differ in where, and whether, they dedup.
    */
  def bandPairs(x: DataFrame, y: DataFrame, pairing: Pairing, id: String,
      keys: Seq[String], payload: Seq[String] = Nil): DataFrame = {
    val bandEq = keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
    val cond = pairing match {
      case Self        => bandEq && col(s"x.$id") < col(s"y.$id")
      case SharedIds   => bandEq && col(s"x.$id") =!= col(s"y.$id")
      case DisjointIds => bandEq
    }
    x.as("x").join(y.as("y"), cond).select(col(s"x.$id").as("a") +: col(s"y.$id").as("b") +:
      payload.flatMap(p => Seq(col(s"x.$p").as(s"a_$p"), col(s"y.$p").as(s"b_$p"))): _*)
  }
}
