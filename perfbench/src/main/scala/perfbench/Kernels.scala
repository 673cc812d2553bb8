package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{TextHash, VectorExpressions, VectorFunctions}
import graft.operators.NearDup

/** Kernel microbench for the `functions` layer: rows per second per core
  * of each Catalyst kernel over a cached single-partition column (so one
  * task on one core does all the work, timed by its executor run time),
  * against a plain-JVM loop doing the same arithmetic on the same values. */
object Kernels {
  val Rows = 100000
  val Docs = 5000
  val Reps = 5

  @volatile private var sink = 0.0

  /** Median rows/s of `Reps` plain-loop passes (after one warm-up pass). */
  private def loopRate(rows: Int)(pass: => Double): Double = {
    sink += pass
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime(); sink += pass; (System.nanoTime() - t0) / 1e9
    }
    rows / Stats.median(ts)
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val vecs = new Gen.Mixture(ctx.seed).draw(Rows, "kernels")
    val q = vecs(0)
    val qCol = array(q.toSeq.map(f => lit(f)): _*).cast("array<float>")
    val matrix = VectorFunctions.projectionMatrix(8, Gen.Dim, ctx.seed)
    val rows = new java.util.ArrayList[Row](Rows)
    vecs.foreach(v => rows.add(Row(v.toSeq)))
    val vdf = spark.createDataFrame(rows, StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = false), nullable = false))))
      .repartition(1).cache()
    vdf.count()
    val hdf = spark.createDataFrame(Gen.docRows(Gen.docs(ctx.seed, Docs)), Gen.docsSchema)
      .select(TextHash.hashedShinglesCol(col("text"), 3).as("h"))
      .repartition(1).cache()
    val hashes: Array[Array[Long]] = hdf.collect().map(_.getSeq[Long](0).toArray)

    /** Rows/s per core of one kernel: median over reps of rows / task run
      * time, from the spans the listener recorded for each rep. */
    def kernelRate(name: String, df: DataFrame, n: Int, c: org.apache.spark.sql.Column): Double = {
      df.select(sum(c)).collect() // warm-up: code generation and JIT
      val reps = (0 until Reps).map { _ =>
        val at = ctx.rec.spans.size
        ctx.rec.span("functions", name) { df.select(sum(c)).collect() }
        ctx.rec.spans(at)
      }
      ctx.rec.drain()
      val a = new Analysis(ctx.rec)
      n / Stats.median(reps.map(s => math.max(1.0, a.counters(s)("task_run_ms")) / 1000))
    }

    def distLoop(f: (Array[Float], Array[Float]) => Double): Double = {
      var acc = 0.0; var i = 0
      while (i < vecs.length) { acc += f(vecs(i), q); i += 1 }
      acc
    }
    def euclid(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }
    def bucket(v: Array[Float]): Long = {
      var b = 0L; var i = 0
      while (i < matrix.length) {
        val row = matrix(i); var acc = 0.0d; var j = 0
        while (j < row.length) { acc += v(j).toDouble * row(j); j += 1 }
        if (acc >= 0.0d) b |= 1L << i
        i += 1
      }
      b
    }
    val coeffs = Array.tabulate(16)(NearDup.minhashCoeffs)
    def minhash(hs: Array[Long]): Long = {
      val sig = Array.fill(16)(Long.MaxValue)
      var i = 0
      while (i < hs.length) {
        val x = hs(i) % (1L << 30); var j = 0
        while (j < 16) {
          val h = (coeffs(j)._1 * x + coeffs(j)._2) % NearDup.MinhashPrime
          if (h < sig(j)) sig(j) = h
          j += 1
        }
        i += 1
      }
      sig(0)
    }

    val results = Seq(
      ("cosine_distance", kernelRate("cosine_distance", vdf, Rows,
        VectorExpressions.cosineDistance(col("v"), qCol)),
        loopRate(Rows)(distLoop(Exact.cosine))),
      ("euclidean_distance", kernelRate("euclidean_distance", vdf, Rows,
        VectorExpressions.euclideanDistance(col("v"), qCol)),
        loopRate(Rows)(distLoop(euclid))),
      ("lsh_bucket", kernelRate("lsh_bucket", vdf, Rows,
        VectorFunctions.lshBucket(col("v"), matrix)),
        loopRate(Rows)(vecs.iterator.map(bucket).sum.toDouble)),
      ("minhash_signature", kernelRate("minhash_signature", hdf, Docs,
        element_at(NearDup.minhashSignature(col("h"), 16), 1)),
        loopRate(Docs)(hashes.iterator.map(minhash).sum.toDouble)))
    vdf.unpersist(blocking = true)
    hdf.unpersist(blocking = true)
    results.flatMap { case (k, kernel, loop) =>
      Seq(s"functions.$k.rows_per_s_core" -> kernel, s"functions.$k.vs_loop" -> kernel / loop)
    }.toMap
  }
}
