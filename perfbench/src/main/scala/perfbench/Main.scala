package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** State shared by the driver loop and the workload under test. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracing: Boolean,
                val work: Path) {
  val rec = new Recorder(spark.sparkContext, tracing)
  /** Seconds per set-up phase, one map per set-up repetition. */
  val setups = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()
  val failures = mutable.ArrayBuffer[String]()

  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try rec.span("setup", name)(body)
    finally {
      val cur = setups.last
      cur(name) = cur.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  def freshDir(name: String): Path =
    Files.createDirectories(work.resolve(s"$name-${setups.size}"))

  def check(name: String, problem: Option[String]): Unit =
    problem.foreach(p => failures += s"$name: $p")
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--trace-out <file>] [--source <id>]`. Prints a run record
  * line and then, as the last line of stdout, the result object. */
object Main {
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "items_per_s" -> "1/s",
    "recall" -> "ratio", "retained_heap_mb" -> "MB")

  val SparkCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "task_queue_ms" -> "ms",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_records" -> "count", "failed_tasks" -> "count",
    "job_ms" -> "ms", "driver_gap_ms" -> "ms")

  val CallOps: Seq[String] =
    Seq("search.flat", "search.lsh", "search.ivf", "searchBatch")

  /** Every per-layer metric a traced run prints, in order, with its unit.
    * Layers a workload does not exercise report 0. */
  val PerLayer: Seq[(String, String)] =
    CallOps.flatMap(op => Seq(s"engine.$op.build_ms" -> "ms",
      s"engine.$op.jobs_build" -> "count", s"engine.$op.exec_ms" -> "ms",
      s"engine.$op.jobs_exec" -> "count")) ++
    Seq("engine.addChunksDf.ms" -> "ms", "engine.addChunksDf.jobs" -> "count",
      "engine.save.ms" -> "ms", "engine.save.jobs" -> "count",
      "engine.save.bytes_written" -> "bytes", "engine.open.ms" -> "ms",
      "engine.state_versions" -> "count", "engine.chunks_plan_nodes" -> "count",
      "engine.state_bytes_ratio" -> "ratio") ++
    Seq("generate", "ingest", "train", "save", "open").map(p => s"setup.${p}_s" -> "s") ++
    Seq("cosine_distance", "euclidean_distance", "lsh_bucket", "minhash_signature")
      .flatMap(k => Seq(s"functions.$k.rows_per_s_core" -> "1/s",
        s"functions.$k.vs_loop" -> "ratio")) ++
    SparkCounters.map { case (c, u) => s"spark.$c" -> u } ++
    Seq("spark.input_records_per_result" -> "ratio") ++
    Seq("driver.gc_ms" -> "ms", "driver.heap_after_gc_mb" -> "MB",
      "spark.storage_mb" -> "MB", "spark.persisted_rdds" -> "count",
      "tmp.graft_dirs_left" -> "count",
      "trace.read_p50_ms" -> "ms", "trace.untraced_read_p50_ms" -> "ms",
      "trace.overhead_ms" -> "ms")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  @volatile private var blackhole = 0L

  /** Host-speed calibration: a fixed single-thread xorshift64 loop (2^25
    * rounds), median of three timed passes after a warm-up. It measures
    * the box, not the engine, so runs on different hosts can be compared. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
      while (i < (1 << 25)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.rotateLeft(x, i & 63); i += 1
      }
      blackhole = acc
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Heap in use after full GCs, repeated until it settles: Spark's
    * ContextCleaner frees blocks only after a GC has cleared their weak
    * references, so one GC can still count what the next one releases. */
  def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used(); var cur = used(); var n = 0
    while (math.abs(cur - prev) > 0.5 && n < 5) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def graftDirs(): Int = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("graft-")).count().toInt
    finally s.close()
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val tracing = arg(args, "trace").contains("1")
    val work = Paths.get(arg(args, "work").getOrElse(sys.error("--work is required")))
    val w = Workloads(workload)
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, tracing, work)
    log("spark session up")
    val calibration = calibrate()

    // set-up, repeated: each repetition starts from nothing and the last
    // one's state is what the loop measures
    (0 until SetupReps).foreach { _ =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      ctx.setups += mutable.LinkedHashMap.empty
      w.setup(ctx)
      log(s"set-up ${ctx.setups.size} done")
    }
    val setupTotals = ctx.setups.map(_.values.sum).toSeq

    // untimed warm-up steps; the loop's step numbers continue after them
    ctx.rec.recording = false
    var i = 0
    while (i < w.warmSteps) { w.step(ctx, i); i += 1 }

    var attempted = 0; var failed = 0
    log("warm-up done")
    val gc0 = gcMs()
    val loopFrom = ctx.rec.spans.size
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) {
      ctx.rec.recording = tracing && i % 2 == 0
      attempted += 1
      try w.step(ctx, i)
      catch { case NonFatal(e) => failed += 1; System.err.println(s"step $i failed: $e") }
      i += 1
    }
    val gcLoop = gcMs() - gc0
    val steps = ctx.rec.spans.drop(loopFrom).filter(_.parent == 0).toSeq
    ctx.rec.recording = tracing
    log(s"timed loop done: $attempted steps")
    val out = w.finish(ctx, steps)
    log("checks done")
    if (out.readMs.isEmpty) ctx.failures += "no timed calls completed"

    val layer = mutable.LinkedHashMap[String, Double]()
    if (tracing) {
      layer ++= Kernels.run(ctx)
      ctx.rec.drain()
      val a = new Analysis(ctx.rec)
      layer ++= layerMetrics(ctx, a, steps)
      layer("driver.gc_ms") = gcLoop / math.max(1, steps.size)
      arg(args, "trace-out").foreach(p => a.write(Paths.get(p)))
    }
    ctx.rec.close()
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    val persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
    val dirsLeft = graftDirs().toDouble
    val heap = heapAfterGcMb()
    layer("driver.heap_after_gc_mb") = heap
    layer("spark.storage_mb") = storageMb
    layer("spark.persisted_rdds") = persisted
    layer("tmp.graft_dirs_left") = dirsLeft

    val e2e = Map(
      "setup_s" -> Stats.median(setupTotals),
      "read_p50_ms" -> Stats.median(out.readMs),
      "items_per_s" -> out.itemsPerS,
      "recall" -> out.recall,
      "retained_heap_mb" -> heap)
    val samples = Map("setup_s" -> setupTotals.size, "read_p50_ms" -> out.readMs.size,
      "items_per_s" -> steps.size, "recall" -> (w.warmSteps + steps.size),
      "retained_heap_mb" -> 1)
    val metrics: Seq[(String, Double, String)] =
      if (tracing) PerLayer.map { case (n, u) => (n, layer.getOrElse(n, out.layer.getOrElse(n, 0.0)), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }

    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> tracing.toString,
      "source" -> Json.str(arg(args, "source").getOrElse("unknown")),
      "nproc" -> nproc.toString,
      "driver_heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "calibration_s" -> Json.num(calibration),
      "setup_reps" -> Json.obj(ctx.setups.toSeq.zipWithIndex.map { case (m, r) =>
        r.toString -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }) }),
      "steps_ms" -> steps.map(s => Json.num(s.durMs)).mkString("[", ",", "]"),
      "samples" -> Json.obj(samples.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "end_to_end" -> Json.obj(EndToEnd.map { case (n, _) => n -> Json.num(e2e(n)) }),
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]")))
    println(record)
    spark.stop()
    log("spark stopped")

    val result = Json.obj(Seq(
      "correct" -> ctx.failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    ctx.failures.take(20).foreach(f => System.err.println(s"check failed: $f"))
    println(result)
    System.exit(if (ctx.failures.isEmpty) 0 else 1)
  }

  /** Per-layer figures from the spans and Spark jobs of the traced steps. */
  def layerMetrics(ctx: Ctx, a: Analysis, steps: Seq[Span]): Map[String, Double] = {
    val m = mutable.Map[String, Double]()
    val traced = steps.filter(_.traced)
    val inLoop = traced.flatMap(a.subtree)
    val all = ctx.rec.spans.toSeq.filter(_.traced)
    def named(ss: Seq[Span], n: String) = ss.filter(_.name == n)
    def med(xs: Seq[Double]) = Stats.median(xs)
    def child(s: Span, n: String) = ctx.rec.childrenOf(s).find(_.name == n)

    CallOps.foreach { op =>
      val calls = named(inLoop, op)
      val builds = calls.flatMap(child(_, "build"))
      val execs = calls.flatMap(child(_, "exec"))
      m(s"engine.$op.build_ms") = med(builds.map(_.durMs))
      m(s"engine.$op.jobs_build") = med(builds.map(a.jobsOfSpan(_).size.toDouble))
      m(s"engine.$op.exec_ms") = med(execs.map(_.durMs))
      m(s"engine.$op.jobs_exec") = med(execs.map(a.jobsOfSpan(_).size.toDouble))
    }
    def jobsIn(s: Span) = a.subtree(s).map(a.jobsOfSpan(_).size).sum.toDouble
    val adds = named(all, "addChunksDf")
    m("engine.addChunksDf.ms") = med(adds.map(_.durMs))
    m("engine.addChunksDf.jobs") = med(adds.map(jobsIn))
    val saves = named(all, "save").filter(_.layer == "engine")
    m("engine.save.ms") = med(saves.map(_.durMs))
    m("engine.save.jobs") = med(saves.map(jobsIn))
    m("engine.save.bytes_written") = med(saves.map(_.attrs.getOrElse("bytes_written", 0.0)))
    m("engine.open.ms") = med(named(all, "open").filter(_.layer == "engine").map(_.durMs))
    Seq("generate", "ingest", "train", "save", "open").foreach { p =>
      m(s"setup.${p}_s") = med(ctx.setups.toSeq.map(_.getOrElse(p, 0.0)))
    }

    val counters = traced.map(a.counters)
    SparkCounters.foreach { case (c, _) => m(s"spark.$c") = med(counters.map(_(c))) }
    val results = traced.map(_.attrs.getOrElse("results", 0.0)).sum
    m("spark.input_records_per_result") =
      if (results == 0) 0.0 else counters.map(_("input_records")).sum / results
    val (on, off) = steps.partition(_.traced)
    m("trace.read_p50_ms") = med(on.map(_.durMs))
    m("trace.untraced_read_p50_ms") = med(off.map(_.durMs))
    m("trace.overhead_ms") = m("trace.read_p50_ms") - m("trace.untraced_read_p50_ms")
    m.toMap
  }
}
