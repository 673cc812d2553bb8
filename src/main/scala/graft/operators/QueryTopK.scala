package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** Per-query top-k when the query list sits on the driver — the batch
  * k-NN reduction (the distributed top-k shape of REPOSE, ICDE 2021:
  * per-partition local top-k, then a small merge).
  *
  *   - Scan step ([[scan]]): each partition of a column-pruned
  *     (id, embedding) scan decodes every embedding once and scores it
  *     against all Q queries, which ride inside the plan as one
  *     `float[Q][d]` (widened to double once per task) with their norms
  *     precomputed. The fold order is the one of `CosineDistanceExpr`,
  *     `EuclideanDistanceExpr` and `DotProductExpr`, and the rounding is
  *     Catalyst's `round(_, 6) + 0.0`, so distances are bit-identical to
  *     the `distance` Column. Each query keeps a bounded heap of k; a
  *     partition emits <= Q·k rows. No (chunk, query) pair row is ever
  *     materialised.
  *   - Local step ([[local]]): the same per-query heaps over an already
  *     scored (query_id, id, score) frame, so a probe join's candidate
  *     pairs shrink to <= Q·k rows per partition before any exchange.
  *   - Merge step ([[merge]]): ONE exchange keyed by the query's rank in
  *     the sorted driver-held id list (contiguous rank blocks per reduce
  *     partition, via `repartitionById`), then a per-query heap merge.
  *     Partition order is query order and each partition emits its
  *     queries in (score, id) order, so the output is ordered by
  *     (query_id, score, id) with no range-sampling job, no
  *     single-partition exchange, no sort and no window.
  *
  * Order is Spark's ascending NULLS FIRST order on (score, id): doubles
  * by `SQLOrderingUtil.compareDoubles` (NaN last, -0.0 == 0.0), ids by
  * their UTF-8 bytes. Ties at the k-th place keep the smaller id, exactly
  * like `row_number() <= k` over that order.
  *
  * [[TopK.perGroup]] stays the reduction where the groups are not a
  * driver-held list (lexical batch ranking, the SQL batch query). */
object QueryTopK {

  /** The heap-row column carrying the reduce partition id. */
  val PartCol = "__qtk_part"

  /** Driver-held query ids: rank = position in the sorted distinct ids;
    * rank r goes to reduce partition r·P/n (contiguous blocks). */
  final class Layout(queryIds: Seq[Long], maxPartitions: Int) extends Serializable {
    val ids: Array[Long] = queryIds.distinct.sorted.toArray
    require(ids.nonEmpty, "QueryTopK needs at least one query")
    val partitions: Int = math.max(1, math.min(maxPartitions, ids.length))
    def rank(qid: Long): Int = {
      val r = java.util.Arrays.binarySearch(ids, qid)
      if (r < 0) throw new IllegalStateException(s"query_id $qid is not in the batch")
      r
    }
    def partitionOf(rank: Int): Int = (rank.toLong * partitions / ids.length).toInt
    override def toString: String = s"${ids.length} queries over $partitions partitions"
  }

  object Layout {
    /** One reduce partition per shuffle partition, at most one per query. */
    def apply(df: DataFrame, queryIds: Seq[Long]): Layout =
      new Layout(queryIds,
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** The query vectors of a scan: float32 on the wire (they ride in the
    * task binary), widened to double once per task. */
  final class Queries(qs: Seq[(Long, Seq[Float])], layout: Layout) extends Serializable {
    val ids: Array[Long] = qs.map(_._1).toArray
    private val floats: Array[Array[Float]] = qs.map(_._2.toArray).toArray
    @transient lazy val vecs: Array[Array[Double]] = floats.map(_.map(_.toDouble))
    /** sqrt(Σ q_i²), folded left to right like the cosine kernel. */
    val norms: Array[Double] = vecs.map { q =>
      var n = 0.0d; var i = 0
      while (i < q.length) { n += q(i) * q(i); i += 1 }
      math.sqrt(n)
    }
    val parts: Array[Int] = ids.map(id => layout.partitionOf(layout.rank(id)))
    override def toString: String = s"${ids.length} queries"
  }

  private def e(c: Column): Expression = ColumnBridge.expression(c)

  /** Scan step: per-partition top-k of `base` rows against every query,
    * scored under `metric`. Output (query_id, idCol, distance, PartCol),
    * at most Q·k rows per input partition; feed it to [[merge]]. */
  def scan(base: DataFrame, idCol: String, vecCol: String,
           queries: Seq[(Long, Seq[Float])], metric: String, k: Int,
           layout: Layout): DataFrame = {
    require(k > 0, "k must be > 0")
    require(graft.functions.VectorFunctions.SupportedMetrics(metric),
      s"unknown distance metric: $metric")
    base.select(ColumnBridge.column(ScanTopK(e(col(idCol)), e(col(vecCol)),
      new Queries(queries, layout), metric, k, idCol)))
  }

  /** Local step: per-partition top-k of scored (query_id, idCol,
    * scoreCol) rows. Output adds PartCol; feed it to [[merge]]. */
  def local(scored: DataFrame, idCol: String, scoreCol: String, k: Int,
            layout: Layout): DataFrame = {
    require(k > 0, "k must be > 0")
    scored.select(ColumnBridge.column(HeapTopK(e(col("query_id").cast(LongType)),
      e(col(idCol)), e(col(scoreCol).cast(DoubleType)), layout, k, idCol,
      scoreCol, withPart = true)))
  }

  /** Merge step: one exchange on the query's rank block, then the
    * per-query merge. Output (query_id, idCol, scoreCol) ordered by
    * (query_id, scoreCol, idCol). */
  def merge(heaps: DataFrame, idCol: String, scoreCol: String, k: Int,
            layout: Layout): DataFrame =
    heaps.repartitionById(layout.partitions, col(PartCol))
      .select(ColumnBridge.column(HeapTopK(e(col("query_id")), e(col(idCol)),
        e(col(scoreCol)), layout, k, idCol, scoreCol, withPart = false)))

  /** Local then merge: the k smallest (scoreCol, idCol) rows per query. */
  def perQuery(scored: DataFrame, idCol: String, scoreCol: String, k: Int,
               layout: Layout): DataFrame =
    merge(local(scored, idCol, scoreCol, k, layout), idCol, scoreCol, k, layout)

  /** Catalyst's `round(d, 6) + 0.0` on a double: HALF_UP on the
    * shortest decimal form, NaN and ±Inf passed through. */
  private[operators] def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d + 0.0d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0d

  private[operators] def heapSchema(idName: String, scoreName: String, withPart: Boolean) =
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField(idName, StringType),
      StructField(scoreName, DoubleType)) ++
      (if (withPart) Seq(StructField(PartCol, IntegerType, nullable = false))
       else Nil))
}

/** Bounded max-heap keeping the k smallest (score, id) entries in
  * Spark's ascending NULLS FIRST order; the root is the worst kept entry.
  * An offered id is copied only when it is kept. Storage grows with the
  * kept count, so a k far above the candidate count costs nothing. */
private[operators] final class ScoreHeap(k: Int) {
  private var nul = new Array[Boolean](math.min(k, 16))
  private var ds = new Array[Double](nul.length)
  private var ids = new Array[UTF8String](nul.length)
  private var size = 0

  def full: Boolean = size == k
  /** The worst kept entry: its null flag and its score. */
  def worstNull: Boolean = nul(0)
  def worst: Double = ds(0)

  private def cmp(n1: Boolean, d1: Double, s1: UTF8String,
                  n2: Boolean, d2: Double, s2: UTF8String): Int = {
    val c =
      if (n1 || n2) java.lang.Boolean.compare(n2, n1)
      else SQLOrderingUtil.compareDoubles(d1, d2)
    if (c != 0) c
    else if (s1 == null || s2 == null) java.lang.Boolean.compare(s2 == null, s1 == null)
    else s1.binaryCompare(s2)
  }
  private def cmpAt(i: Int, j: Int): Int =
    cmp(nul(i), ds(i), ids(i), nul(j), ds(j), ids(j))
  private def swap(i: Int, j: Int): Unit = {
    val n = nul(i); nul(i) = nul(j); nul(j) = n
    val d = ds(i); ds(i) = ds(j); ds(j) = d
    val s = ids(i); ids(i) = ids(j); ids(j) = s
  }

  def offer(isNull: Boolean, d: Double, id: UTF8String): Unit =
    if (size < k) {
      if (size == nul.length) {
        val cap = math.min(k.toLong, 2L * size).toInt
        nul = java.util.Arrays.copyOf(nul, cap)
        ds = java.util.Arrays.copyOf(ds, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
      nul(size) = isNull; ds(size) = d; ids(size) = if (id == null) null else id.clone()
      var i = size
      size += 1
      while (i > 0 && cmpAt((i - 1) / 2, i) < 0) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (cmp(isNull, d, id, nul(0), ds(0), ids(0)) < 0) {
      nul(0) = isNull; ds(0) = d; ids(0) = if (id == null) null else id.clone()
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < size && cmpAt(l, m) > 0) m = l
        if (r < size && cmpAt(r, m) > 0) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

  /** Kept entries in ascending order; empties the heap. */
  def drain(emit: (Boolean, Double, UTF8String) => Unit): Unit = {
    val order = (0 until size).sortWith((i, j) => cmpAt(i, j) < 0)
    order.foreach(i => emit(nul(i), ds(i), ids(i)))
    java.util.Arrays.fill(ids.asInstanceOf[Array[AnyRef]], null)
    size = 0
  }
}

/** Scan-step generator: consumes (id, embedding) rows, emits the
  * per-query heaps at the end of the partition. Interpreted only:
  * `terminate` is not part of the generated-code path. */
private[operators] case class ScanTopK(id: Expression, vec: Expression,
    queries: QueryTopK.Queries, metric: String, k: Int, idName: String)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(id, vec)
  override def supportCodegen: Boolean = false
  override def elementSchema: StructType =
    QueryTopK.heapSchema(idName, "distance", withPart = true)

  private val kind = metric match {
    case "cosine" => 0
    case "euclidean" => 1
    case _ => 2
  }
  @transient private lazy val heaps = Array.fill(queries.ids.length)(new ScoreHeap(k))
  @transient private lazy val row = new Array[Double](queries.vecs.headOption.fold(0)(_.length))
  /** Per-query accumulator of the current row: Σ(v_i - q_i)² for
    * euclidean, Σ v_i·q_i otherwise. */
  @transient private lazy val raws = new Array[Double](queries.ids.length)

  /** Fills `raws`, four queries per pass over the row: four independent
    * accumulators, each folded left to right exactly like the
    * single-pair kernel, so every sum is bit-identical to it. */
  private def fold(dim: Int): Unit = {
    val qs = queries.vecs
    var j = 0
    while (j < qs.length) {
      val q0 = qs(j)
      val q1 = qs(math.min(j + 1, qs.length - 1))
      val q2 = qs(math.min(j + 2, qs.length - 1))
      val q3 = qs(math.min(j + 3, qs.length - 1))
      var a0 = 0.0d; var a1 = 0.0d; var a2 = 0.0d; var a3 = 0.0d
      var i = 0
      if (kind == 1)
        while (i < dim) {
          val x = row(i)
          val d0 = x - q0(i); val d1 = x - q1(i)
          val d2 = x - q2(i); val d3 = x - q3(i)
          a0 += d0 * d0; a1 += d1 * d1; a2 += d2 * d2; a3 += d3 * d3
          i += 1
        }
      else
        while (i < dim) {
          val x = row(i)
          a0 += x * q0(i); a1 += x * q1(i); a2 += x * q2(i); a3 += x * q3(i)
          i += 1
        }
      raws(j) = a0
      if (j + 1 < qs.length) raws(j + 1) = a1
      if (j + 2 < qs.length) raws(j + 2) = a2
      if (j + 3 < qs.length) raws(j + 3) = a3
      j += 4
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = id.eval(input).asInstanceOf[UTF8String]
    val a = vec.eval(input).asInstanceOf[ArrayData]
    if (a == null) heaps.foreach(_.offer(isNull = true, 0.0d, s))
    else {
      val dim = row.length
      if (a.numElements() != dim)
        throw new IllegalArgumentException(
          s"query_top_k: dimension mismatch (${a.numElements()} vs $dim)")
      var i = 0
      var rn = 0.0d
      while (i < dim) {
        val x = a.getFloat(i).toDouble
        row(i) = x; rn += x * x; i += 1
      }
      val rowNorm = math.sqrt(rn)
      fold(dim)
      var j = 0
      while (j < heaps.length) {
        val acc = raws(j)
        val raw =
          if (kind == 1) math.sqrt(acc)
          else if (kind == 2) -acc
          else {
            val qn = queries.norms(j)
            if (rowNorm == 0.0d || qn == 0.0d) Double.PositiveInfinity
            else 1.0d - acc / (rowNorm * qn)
          }
        val h = heaps(j)
        // rounding is monotone and moves a value by <= 5e-7, so a raw
        // distance past the worst kept rounded one + 1e-6 cannot enter
        if (!h.full || (!h.worstNull && !(raw > h.worst + 1e-6d)))
          h.offer(isNull = false, QueryTopK.round6(raw), s)
        j += 1
      }
    }
    Nil
  }

  override def terminate(): IterableOnce[InternalRow] = {
    val out = ArrayBuffer.empty[InternalRow]
    var j = 0
    while (j < heaps.length) {
      val qid = queries.ids(j)
      val part = queries.parts(j)
      heaps(j).drain { (n, d, s) =>
        out += InternalRow(qid, s, if (n) null else d, part)
      }
      j += 1
    }
    out
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(id = c(0), vec = c(1))
}

/** Local / merge generator over scored (query_id, id, score) rows: one
  * heap per query rank, emitted in rank order. The local form carries
  * the reduce partition column (`withPart`); the merge form drops it. */
private[operators] case class HeapTopK(qid: Expression, id: Expression,
    score: Expression, layout: QueryTopK.Layout, k: Int, idName: String,
    scoreName: String, withPart: Boolean)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(qid, id, score)
  override def supportCodegen: Boolean = false
  override def elementSchema: StructType =
    QueryTopK.heapSchema(idName, scoreName, withPart)

  @transient private lazy val heaps = new Array[ScoreHeap](layout.ids.length)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val r = layout.rank(qid.eval(input).asInstanceOf[Long])
    if (heaps(r) == null) heaps(r) = new ScoreHeap(k)
    val d = score.eval(input)
    heaps(r).offer(d == null, if (d == null) 0.0d else d.asInstanceOf[Double],
      id.eval(input).asInstanceOf[UTF8String])
    Nil
  }

  override def terminate(): IterableOnce[InternalRow] = {
    val out = ArrayBuffer.empty[InternalRow]
    var r = 0
    while (r < heaps.length) {
      if (heaps(r) != null) {
        val q = layout.ids(r)
        val part = layout.partitionOf(r)
        heaps(r).drain { (n, d, s) =>
          val dv = if (n) null else d
          out += (if (withPart) InternalRow(q, s, dv, part) else InternalRow(q, s, dv))
        }
      }
      r += 1
    }
    out
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(qid = c(0), id = c(1), score = c(2))
}
