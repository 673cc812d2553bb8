package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Vector math — the engine's distance kernels.
  *
  * Semantics mirror the reference's distance kernels
  * (reference: vector_db/indexes.py:108-123):
  *   - cosine_distance  = 1 - v.q / (|v||q|), +Inf when either norm is 0
  *     (vector_db/indexes.py:108-115)
  *   - euclidean_distance = |v - q|_2            (vector_db/indexes.py:117-119)
  *   - dot_product_distance = -(v.q)             (vector_db/indexes.py:121-123)
  *
  * Storage is float32 (vector_db/indexes.py:92); distances are accumulated
  * in double (SURVEY.md §7.4 item 2) with a left-to-right fold — the same
  * element order and precision DuckDB's list kernels use, which keeps the
  * oracle hash stable.
  *
  * The distance kernels are fused codegen expressions (VectorExpressions,
  * SURVEY.md §7.7); `dotProduct`/`l2Norm` below remain generic Column
  * compositions because they also serve mixed float/double inputs (e.g.
  * the LSH projection rows, which must stay double precision). The two
  * forms are proven bit-identical in ExpressionEquivalenceSpec.
  */
object VectorFunctions {

  /** Elementwise dot product accumulated in double. */
  def dotProduct(v: Column, q: Column): Column =
    aggregate(
      zip_with(v.cast("array<double>"), q.cast("array<double>"), _ * _),
      lit(0.0d),
      _ + _)

  /** L2 norm in double. */
  def l2Norm(v: Column): Column = sqrt(dotProduct(v, v))

  /** Cosine distance; +Infinity when either vector has zero norm
    * (reference: vector_db/indexes.py:112-113 — keeps zero vectors sorted
    * last ascending, which Spark's ordering of Infinity also guarantees).
    *
    * Implemented as a fused codegen expression (VectorExpressions) —
    * identical IEEE results to the zip_with/aggregate composition (same
    * float32->float64 per-element conversion, same left-to-right folds),
    * but a primitive loop inside whole-stage codegen instead of an
    * interpreted lambda chain. */
  def cosineDistance(v: Column, q: Column): Column =
    VectorExpressions.cosineDistance(v, q)

  /** Euclidean (L2) distance (fused codegen loop). */
  def euclideanDistance(v: Column, q: Column): Column =
    VectorExpressions.euclideanDistance(v, q)

  /** Negated dot product, so ascending sort = most similar first. */
  def dotProductDistance(v: Column, q: Column): Column =
    VectorExpressions.dotProductDistance(v, q)

  /** Metric dispatch (reference: vector_db/indexes.py:99-106). Unknown
    * metric fails eagerly at plan-build time, mirroring the reference's
    * raise at library creation. */
  def distance(metric: String)(v: Column, q: Column): Column = metric match {
    case "cosine"      => cosineDistance(v, q)
    case "euclidean"   => euclideanDistance(v, q)
    case "dot_product" => dotProductDistance(v, q)
    case other =>
      throw new IllegalArgumentException(s"unknown distance metric: $other")
  }

  val SupportedMetrics: Set[String] = Set("cosine", "euclidean", "dot_product")

  /** `c IN values` for a driver-held value set (probed cells, probed
    * buckets, a short-list's ids), built as Catalyst's `InSet`. Generated
    * code holds the set as one reference object, so a new set reuses the
    * compiled class; `isin` keeps lists of <= 10 as `In`, whose codegen
    * inlines every literal and compiles anew for every distinct set.
    * Parquet still receives the predicate as a pushed `In` filter.
    * `values` must carry the column's Scala type (Long for a bigint
    * column, String for a string one). */
  def inSet(c: Column, values: Iterable[Any]): Column =
    ColumnBridge.column(InSet(ColumnBridge.expression(c),
      values.iterator.map(CatalystTypeConverters.convertToCatalyst).toSet))

  // ------------------------------------------------------------------
  // LSH (random-projection) — reference: vector_db/indexes.py:165-242
  // ------------------------------------------------------------------

  /** Deterministic `numProjections x dim` Gaussian projection matrix
    * (reference: vector_db/indexes.py:172-187 — seeded RNG; exact NumPy
    * bit-compat is not required, only determinism given the stored seed). */
  def projectionMatrix(numProjections: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(numProjections, dim)(rng.nextGaussian())
  }

  /** Sign-bit bucket hash: bit i set iff P_i . v >= 0, packed little-endian
    * (reference: vector_db/indexes.py:236-242). Fused-loop expression with
    * the tiny matrix embedded (VectorExpressions.LshBucketExpr) — same
    * float32->float64 per-element products and left-to-right accumulation
    * as the zip_with composition it replaced. The hash stays LONG — an
    * int cast would silently overflow at >= 32 projections. */
  def lshBucket(v: Column, matrix: Array[Array[Double]]): Column =
    VectorExpressions.lshBucket(v, matrix)
}
