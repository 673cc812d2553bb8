package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.engine.VectorEngine

/** What a workload reports once its timed loop is over. */
final case class Outcome(readMs: Seq[Double], itemsPerS: Double, recall: Double,
                         layer: Map[String, Double] = Map.empty)

/** One closed-loop workload: one client thread, each step issued only
  * after the previous one returned. */
trait Workload {
  /** Build inputs and engine state from nothing; run `Main.SetupReps`
    * times, the last one's state is measured. */
  def setup(ctx: Ctx): Unit
  /** Untimed steps before the loop, so JIT and first-use costs are paid. */
  def warmSteps: Int
  /** One timed step, recorded as a top-level span. */
  def step(ctx: Ctx, i: Int): Unit
  /** Correctness checks and end-to-end figures over the timed steps. */
  def finish(ctx: Ctx, steps: Seq[Span]): Outcome
}

object Workloads {
  val K = 10

  def apply(name: String): Workload = name match {
    case "search_point" => new SearchPoint
    case "search_batch" => new SearchBatch
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def versionDirs(p: Path): Int =
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.filter(f => Files.isDirectory(f) &&
        f.getFileName.toString.matches("v\\d+")).count().toInt
      finally s.close()
    }

  def rows(df: DataFrame): Array[(String, Double)] =
    df.collect().map(r => (r.getAs[String]("chunk_id"), r.getAs[Double]("distance")))

  /** The shared library state of the search workloads: generated vectors
    * written as parquet, ingested through the facade, saved and reopened. */
  final class Corpus(ctx: Ctx, n: Int, queries: Int) {
    val mix = new Gen.Mixture(ctx.seed)
    val ids: Array[String] = Array.tabulate(n)(i => Gen.chunkId("", i))
    val vecs: Array[Array[Float]] = mix.draw(n, "base")
    val qs: Array[Array[Float]] = mix.draw(queries, "queries")
    lazy val exact: Array[Array[(String, Double)]] = qs.map(Exact.topK(_, ids, vecs, K))
    def distOf(q: Array[Float])(id: String): Double =
      Exact.cosine(vecs(id.drop(1).toInt), q)

    def write(dir: Path): DataFrame =
      Gen.writeParquet(ctx.spark, Gen.chunkRows(ids, "d", vecs), Gen.chunkSchema,
        dir.resolve("base.parquet").toString)
  }

  /** Create a library + document and bulk-ingest `base` under it with
    * chunk ids prefixed by `prefix`. Returns the library id. */
  def ingest(ctx: Ctx, e: VectorEngine, base: DataFrame, prefix: String,
             kind: String, storage: String): String = {
    val lib = e.createLibrary(s"lib-$prefix", Gen.Dim, "cosine", kind,
      storage = storage, id = Some(s"lib-$prefix")).id
    val doc = e.createDocument(lib, s"doc-$prefix", id = Some(s"doc-$prefix")).id
    ctx.rec.span("engine", "addChunksDf") {
      e.addChunksDf(lib, base.select(concat(lit(prefix), col("id")).as("id"),
        lit(doc).as("document_id"), col("text"), col("embedding"), col("metadata"),
        col("chunk_index")))
    }
    lib
  }

  def saveAndOpen(ctx: Ctx, e: VectorEngine, dir: Path): VectorEngine = {
    ctx.phase("save") { save(ctx, e, dir.toString) }
    ctx.phase("open") { ctx.rec.span("engine", "open") { VectorEngine.open(ctx.spark, dir.toString) } }
  }

  def save(ctx: Ctx, e: VectorEngine, dir: String): Unit = {
    val before = bytesUnder(java.nio.file.Paths.get(dir))
    ctx.rec.span("engine", "save") {
      e.save(dir)
      ctx.rec.attr("bytes_written", (bytesUnder(java.nio.file.Paths.get(dir)) - before).toDouble)
    }
  }

  /** Size and shape of the saved-then-reopened state the loop searches. */
  def stateMetrics(e: VectorEngine, dir: Path, rawBytes: Long): Map[String, Double] =
    Map("engine.state_versions" -> versionDirs(dir).toDouble,
      "engine.chunks_plan_nodes" ->
        e.chunksDf.queryExecution.logical.treeString.linesIterator.size.toDouble,
      "engine.state_bytes_ratio" -> bytesUnder(dir).toDouble / rawBytes)
}

import Workloads._

/** Single-query k-NN through the facade, rotating over three libraries
  * that hold the same vectors: flat/float32, LSH/float32 (adaptive probe)
  * and IVF/sq8. Each call does little distance work, so driver planning
  * and per-job overhead dominate. Flat answers are checked against brute
  * force. */
final class SearchPoint extends Workload {
  val N = 6000
  val Queries = 300
  val Cells = 16
  private val kinds = Seq("flat" -> "f", "lsh" -> "l", "ivf" -> "i")
  private var corpus: Corpus = _
  private var engine: VectorEngine = _
  private var stateDir: Path = _
  private val got = mutable.ArrayBuffer[(String, Int, Array[(String, Double)])]()

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.freshDir("search_point")
    corpus = ctx.phase("generate") { new Corpus(ctx, N, Queries) }
    val base = ctx.phase("generate") { corpus.write(dir) }
    val e = VectorEngine.create(ctx.spark)
    ctx.phase("ingest") {
      ingest(ctx, e, base, "f", VectorEngine.IndexKindFlat, VectorEngine.StorageFloat32)
      ingest(ctx, e, base, "l", VectorEngine.IndexKindLsh, VectorEngine.StorageFloat32)
      ingest(ctx, e, base, "i", VectorEngine.IndexKindIvf, VectorEngine.StorageSq8)
    }
    ctx.phase("train") {
      ctx.rec.span("engine", "trainIvfIndex") { e.trainIvfIndex("lib-i", Cells, seed = ctx.seed) }
    }
    stateDir = dir.resolve("state")
    engine = saveAndOpen(ctx, e, stateDir)
  }

  def warmSteps: Int = 3

  def step(ctx: Ctx, i: Int): Unit = {
    val (kind, prefix) = kinds(i % 3)
    val qi = (i / 3) % Queries
    val res = ctx.rec.span("engine", s"search.$kind") {
      val df = ctx.rec.span("engine", "build") {
        engine.search(s"lib-$prefix", corpus.qs(qi).toSeq, K)
      }
      val r = ctx.rec.span("engine", "exec") { rows(df) }
      ctx.rec.attr("results", r.length.toDouble)
      r
    }
    got += ((kind, qi, res))
  }

  def finish(ctx: Ctx, steps: Seq[Span]): Outcome = {
    var recallSum = 0.0
    got.foreach { case (kind, qi, res) =>
      val want = corpus.exact(qi)
      val stripped = res.map { case (id, d) => (id.drop(1), d) }
      recallSum += Exact.recall(stripped.map(_._1).toSeq, want.map(_._1).toSeq)
      if (kind == "flat")
        ctx.check(s"flat search q$qi", Exact.sameTopK(stripped.toSeq, want.toSeq,
          id => corpus.distOf(corpus.qs(qi))("f" + id)))
    }
    // One flat+lsh+ivf round is one sample. The three kinds' latencies
    // differ, so a median over single calls would jump between kinds;
    // the round mean weighs them equally.
    val rounds = steps.grouped(3).filter(_.size == 3).map(_.map(_.durMs).sum / 3).toSeq
    Outcome(rounds, steps.size / (steps.map(_.durMs).sum / 1000), recallSum / got.size,
      stateMetrics(engine, stateDir, 3 * Gen.rawChunkBytes(corpus.ids)))
  }
}

/** Batch k-NN (Q = 64) on a flat library: 64 x N exact distances plus the
  * top-k shuffle per call, so kernels and operators dominate and job
  * overhead is amortised. Every answer is checked against brute force. */
final class SearchBatch extends Workload {
  val N = 10000
  val Q = 64
  val Batches = 8
  private var corpus: Corpus = _
  private var engine: VectorEngine = _
  private var stateDir: Path = _
  private val got = mutable.ArrayBuffer[(Int, Array[Row])]()

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.freshDir("search_batch")
    corpus = ctx.phase("generate") { new Corpus(ctx, N, Q * Batches) }
    val base = ctx.phase("generate") { corpus.write(dir) }
    val e = VectorEngine.create(ctx.spark)
    ctx.phase("ingest") {
      ingest(ctx, e, base, "f", VectorEngine.IndexKindFlat, VectorEngine.StorageFloat32)
    }
    stateDir = dir.resolve("state")
    engine = saveAndOpen(ctx, e, stateDir)
  }

  // calls keep speeding up for a few more calls after the first
  def warmSteps: Int = 3

  def step(ctx: Ctx, i: Int): Unit = {
    val b = i % Batches
    val qs = (0 until Q).map(j => (j.toLong, corpus.qs(b * Q + j).toSeq))
    val res = ctx.rec.span("engine", "searchBatch") {
      val df = ctx.rec.span("engine", "build") { engine.searchBatch("lib-f", qs, K) }
      val r = ctx.rec.span("engine", "exec") { df.collect() }
      ctx.rec.attr("results", r.length.toDouble)
      r
    }
    got += ((b, res))
  }

  def finish(ctx: Ctx, steps: Seq[Span]): Outcome = {
    var recallSum = 0.0; var answered = 0
    got.foreach { case (b, res) =>
      val byQ = res.groupBy(_.getAs[Long]("query_id"))
      (0 until Q).foreach { j =>
        val q = corpus.qs(b * Q + j)
        val mine = byQ.getOrElse(j.toLong, Array.empty[Row])
          .map(r => (r.getAs[String]("chunk_id").drop(1), r.getAs[Double]("distance"))).toSeq
        val want = corpus.exact(b * Q + j).toSeq
        ctx.check(s"batch $b query $j", Exact.sameTopK(mine, want,
          id => corpus.distOf(q)("f" + id)))
        recallSum += Exact.recall(mine.map(_._1), want.map(_._1))
        answered += 1
      }
    }
    Outcome(steps.map(_.durMs), steps.size * Q / (steps.map(_.durMs).sum / 1000),
      recallSum / answered, stateMetrics(engine, stateDir, Gen.rawChunkBytes(corpus.ids)))
  }
}
