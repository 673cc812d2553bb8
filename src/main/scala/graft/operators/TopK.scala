package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Salted two-phase per-group top-k, for groups that are NOT a
  * driver-held list: lexical batch ranking (Lexical) and the SQL batch
  * k-NN query. When the query list sits on the driver — the facade's
  * `searchBatch` — [[QueryTopK]] reduces with per-partition heaps and one
  * query-keyed exchange instead. (SURVEY.md §7.4: a single window over
  * the group key would shuffle all N x Q scored rows into only Q
  * partitions, a skew killer when Q is small.)
  *
  * Phase 1 takes top-k per (group, salt) — salt x more reduce slots, each
  * emitting at most k rows — so phase 2's per-group window sees only
  * salt * k rows per group. Results are identical to a single window: the
  * true per-group top-k is a subset of the union of per-salt top-k.
  * Catalyst plans both phases as WindowGroupLimit partial limits pushed
  * before each exchange (PlanSpec pins this). */
object TopK {

  /** Keep the k smallest (orderCol, idCol) rows per `groupCol`. The salt
    * column is derived from idCol, so the split is deterministic but
    * invisible in the result. */
  def perGroup(df: DataFrame, groupCol: String, orderCol: String,
               idCol: String, k: Int, salt: Int = 8): DataFrame = {
    val w1 = Window.partitionBy(col(groupCol), col("__salt"))
      .orderBy(col(orderCol), col(idCol))
    val w2 = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol), col(idCol))
    df.withColumn("__salt", pmod(hash(col(idCol)), lit(salt)))
      .withColumn("__rn1", row_number().over(w1))
      .where(col("__rn1") <= k)
      .withColumn("__rn", row_number().over(w2))
      .where(col("__rn") <= k)
      .drop("__salt", "__rn1", "__rn")
  }
}
