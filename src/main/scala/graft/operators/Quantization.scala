package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** SQ8 scalar quantization for embedding columns: each float32 vector is
  * stored as uint8 codes + a per-vector (min, max) pair — 4x smaller than
  * float32, the standard memory/scan-cost lever for billion-vector search
  * (as published for FAISS's SQ8 / ScaNN's quantized scoring).
  *
  * Encode per element: `code = floor((x - mn) * 255.0 / (mx - mn) + 0.5)`,
  * decode `mn + (code * (mx - mn)) / 255.0` — both written so an SQL
  * oracle reproduces every code and every approximate distance
  * bit-for-bit (floor(+0.5) instead of round() dodges engine-specific
  * rounding-mode differences; all arithmetic is double, left-to-right).
  *
  * Search is TWO-PHASE, the shape that matters at 100 TB:
  *   1. approximate top-R over the COMPACT columns only (id, codes,
  *      min, max — the full embedding is never read), the library METRIC
  *      scored over the decoded codes by the fused codegen kernel
  *      Sq8DistanceExpr (codes are metric-independent: the same stored
  *      representation serves euclidean, cosine, and dot_product);
  *   2. exact rescore of the R survivors with the SAME metric
  *      ([[ExactRescore]]): the R ids are collected to the driver and an
  *      id `InSet` filter reads only those rows of float32 data, then
  *      top-k.
  * At scale phase 1 scans 1/4 the bytes of a flat scan (plus pruned
  * columns), and phase 2's read is O(R), not O(table).
  */
object Quantization {

  /** Add (qmin, qmax, codes) columns quantizing `emb`. A constant vector
    * (max == min) encodes to all-zero codes and decodes to min exactly. */
  def encode(df: DataFrame, emb: Column): DataFrame = {
    val embD = emb.cast("array<double>")
    val mn = array_min(embD)
    val mx = array_max(embD)
    df.withColumn("qmin", mn)
      .withColumn("qmax", mx)
      .withColumn("codes",
        when(col("qmax") === col("qmin"), transform(embD, _ => lit(0)))
          .otherwise(transform(embD, x =>
            floor((x - col("qmin")) * lit(255.0) / (col("qmax") - col("qmin"))
              + lit(0.5)).cast("int"))))
  }

  /** Phase 1 of [[search]]: the `rescore` ids with the smallest
    * approximate `metric` distance over the codes, ordered by
    * (approx, id). A lazy frame that reads ONLY the compact columns
    * (id, codes, qmin, qmax); the full embedding is never read. */
  def shortList(encoded: DataFrame, idCol: String, query: Array[Float],
                rescore: Int, metric: String): DataFrame = {
    require(rescore > 0, "need rescore > 0")
    encoded
      .select(col(idCol), col("codes"), col("qmin"), col("qmax"))
      .withColumn("approx",
        VectorExpressions.sq8Distance(col("codes"), col("qmin"), col("qmax"),
          query, metric))
      .orderBy(col("approx"), col(idCol))
      .limit(rescore)
      .select(col(idCol))
  }

  /** Two-phase quantized search: approximate `metric` top-`rescore` on
    * the codes (collected: one job while the frame is built), exact
    * `metric` top-`k` on the survivors.
    * Output: (idCol, distance), distance = round(exact, 6) + 0.0.
    *
    * `metric` has NO default on purpose: both phases score with it, so a
    * caller that forgot to thread the library metric through would
    * silently rank under the wrong metric — the signature makes that a
    * compile error instead. */
  def search(encoded: DataFrame, embCol: String, idCol: String,
             query: Array[Float], k: Int, rescore: Int,
             metric: String): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    ExactRescore.refine(shortList(encoded, idCol, query, rescore, metric),
      encoded, embCol, idCol, query, metric, k)
  }
}
