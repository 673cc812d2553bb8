package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{distance, inSet}

/** Phase 2 of every two-phase single-query search (sq8, bq, pq, residual
  * pq): phase 1 ranks the compact codes and keeps a short-list of R ids
  * ([[Quantization.shortList]], [[BinaryQuantization.shortListStored]],
  * [[ProductQuantization.shortList]], ...), a lazy frame ordered by
  * (approx, id) and cut at R. [[collectIds]] runs it once and holds the
  * ids on the driver; [[topK]] reads only those rows of the full table
  * (an id `InSet` filter, pushed to the scan) and scores them exactly.
  *
  * Holding the short-list on the driver is what prune-then-refine needs
  * (REPOSE, ICDE 2021): the refine step touches R rows with no join and
  * no broadcast job, and a caller can read the short-list's length before
  * it refines (the IVF `< k` fallback does: R >= k, so fewer than k ids
  * means the probed cells hold fewer than k rows). */
object ExactRescore {

  private def litVec(v: Array[Float]): Column =
    array(v.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")

  /** Run a phase-1 short-list and return its ids (first column), in
    * (approx, id) order. One Spark job. */
  def collectIds(shortList: DataFrame): Seq[Any] =
    shortList.collect().map(_.get(0)).toSeq

  /** Exact top-`k` of `base`: (idCol, distance), distance =
    * round(exact `metric`, 6) + 0.0, ordered by (distance, id). */
  def exact(base: DataFrame, embCol: String, idCol: String,
            query: Array[Float], metric: String, k: Int): DataFrame =
    base.withColumn("distance",
        round(distance(metric)(col(embCol), litVec(query)), 6) + lit(0.0d))
      .select(col(idCol), col("distance"))
      .orderBy(col("distance"), col(idCol))
      .limit(k)

  /** [[exact]] over the rows of `base` whose `idCol` is in `ids`. */
  def topK(base: DataFrame, embCol: String, idCol: String, ids: Seq[Any],
           query: Array[Float], metric: String, k: Int): DataFrame =
    exact(base.where(inSet(col(idCol), ids)), embCol, idCol, query, metric, k)

  /** The whole phase 2: [[collectIds]] of `shortList`, then [[topK]]
    * over `base`. */
  def refine(shortList: DataFrame, base: DataFrame, embCol: String,
             idCol: String, query: Array[Float], metric: String,
             k: Int): DataFrame =
    topK(base, embCol, idCol, collectIds(shortList), query, metric, k)
}
