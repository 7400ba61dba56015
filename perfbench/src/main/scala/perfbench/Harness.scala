package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** What one workload run needs: the session, the tracer and a scratch
  * directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: String) {

  def path(name: String): String = new File(dir, name).getPath

  /** One call into a layer that returns a DataFrame: `build` is the call
    * (eager driver jobs included), `plan` forces the physical plan (traced
    * runs only), `exec` writes every output column as parquet to `out`.
    * Returns the written table, read back, for the next step.
    */
  def step(name: String, out: String)(build: => DataFrame): DataFrame = {
    tracer.span(name) {
      val df = tracer.phase(Span.Build)(build)
      if (tracer.enabled) tracer.phase(Span.Plan)(df.queryExecution.executedPlan)
      tracer.phase(Span.Exec)(df.write.mode("overwrite").parquet(path(out)))
      if (tracer.enabled) tracer.count("files_written", Ctx.dataFiles(path(out)).toDouble)
    }
    spark.read.parquet(path(out))
  }

  /** Same as [[step]] with a `noop` sink: every column is computed, nothing is kept. */
  def stepNoop(name: String)(build: => DataFrame): Unit =
    tracer.span(name) {
      val df = tracer.phase(Span.Build)(build)
      if (tracer.enabled) tracer.phase(Span.Plan)(df.queryExecution.executedPlan)
      tracer.phase(Span.Exec)(df.write.format("noop").mode("overwrite").save())
    }

  /** A call whose product is files under `dir` (index builds, appends,
    * GeoParquet): the whole call is its exec phase.
    */
  def write(name: String, dir: String)(body: => Unit): Unit =
    tracer.span(name) {
      val before = if (tracer.enabled) Ctx.dataFiles(dir) else 0
      tracer.phase(Span.Exec)(body)
      if (tracer.enabled) tracer.count("files_written", (Ctx.dataFiles(dir) - before).toDouble)
    }
}

object Ctx {
  /** Parquet data files below `dir`, recursively. */
  def dataFiles(dir: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(dir))
  }

  /** Bytes of the parquet data files below `dir`, recursively. */
  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new File(dir))
  }
}

/** One timed operation of the closed loop: a full pass or one request. */
final case class Op(kind: String, rows: Long)

/** A workload: seeded inputs, set-up, the closed-loop operation, the
  * correctness checks and the traced-only ratio probes.
  */
trait Workload {
  def name: String

  /** Write the seeded inputs below `ctx.dir`. Not part of set-up time. */
  def generate(ctx: Ctx, seed: Long): Unit

  /** Model fits and index builds a fresh session needs before timing. */
  def setUp(ctx: Ctx): Unit

  /** The i-th operation of the closed loop (i = 0 is the warm-up). The
    * returned thunk is the timed part; anything before it (making a
    * request's inputs) is not timed.
    */
  def op(ctx: Ctx, i: Int): (Op, () => Unit)

  /** Operations per round: a run stops only after a whole round, and
    * round_ms_p50 is the median round time.
    */
  val roundLength: Int = 1

  /** Check the outputs against the planted structure. Returns one message
    * per failed check.
    */
  def check(ctx: Ctx): Seq[String]

  /** Useful-outcome ratios of the traced run, as (span name, kind) → value. */
  def ratios(ctx: Ctx): Map[(String, String), Double] = Map.empty

  /** Per-layer metrics computed from other per-layer metrics. */
  def derived(perLayer: Map[String, Double]): Map[String, Double] = Map.empty
}

final case class RunResult(
    setupS: Double,
    warmupS: Double,
    ops: Seq[(Op, Double)],
    /** Wall time of each whole round of operations. */
    rounds: Seq[Double],
    failedOps: Int,
    checkFailures: Seq[String],
    liveHeapMb: Double,
    perLayer: Map[String, Double])

object Harness {
  /** Task slots. Passes and requests here are bound by driver-side and
    * JIT work, not executor compute: on a 4-core host two slots leave the
    * JIT compiler, GC and driver threads room and every operation runs
    * faster than with four.
    */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** The session the engine ships, plus deployment settings: a local
    * master, one shuffle partition per core (the inputs are small, so
    * more partitions only add tasks) and scratch directories inside the
    * checkout.
    */
  def session(dir: String): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[$Cores]", shufflePartitions = Cores)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Old-generation occupancy after a full collection: the least of three
    * collections a moment apart, so objects Spark's cleaner releases
    * asynchronously do not count.
    */
  def liveHeapMb(): Double =
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getName.toLowerCase.matches(".*(old|tenured).*"))
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum / TraceReport.Mb
    }.min

  private val t00 = System.nanoTime()
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.1f s $msg")

  def run(w: Workload, seed: Long, seconds: Int, tracer: Tracer, dir: String): RunResult = {
    val t0 = System.nanoTime()
    val spark = tracer.span("session")(tracer.phase(Span.Build)(session(dir)))
    tracer.attach(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, dir)
    val g0 = System.nanoTime()
    w.generate(ctx, seed)
    val genNs = System.nanoTime() - g0
    tracer.span("setup")(w.setUp(ctx))
    val setupS = (System.nanoTime() - t0 - genNs) / 1e9
    progress(f"set-up: $setupS%.2f s (inputs generated in ${genNs / 1e9}%.2f s)")
    // one warm-up operation after set-up: caches filled, code
    // generated and JIT-compiled before timing starts
    val w0 = System.nanoTime()
    tracer.span("warmup")(w.op(ctx, 0)._2())
    val warmupS = (System.nanoTime() - w0) / 1e9
    progress(f"warm-up: $warmupS%.2f s")

    val ops = mutable.ArrayBuffer.empty[(Op, Double)]
    val rounds = mutable.ArrayBuffer.empty[Double]
    var roundS = 0.0
    var failed = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 1
    while (System.nanoTime() < deadline || rounds.isEmpty || (i - 1) % w.roundLength != 0) {
      val (op, body) = w.op(ctx, i)
      val t0 = System.nanoTime()
      try {
        tracer.span("op")(body())
        ops += ((op, (System.nanoTime() - t0) / 1e9))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $i (${op.kind}) failed: $e")
      }
      roundS += (System.nanoTime() - t0) / 1e9
      if (i % w.roundLength == 0) { rounds += roundS; roundS = 0.0 }
      i += 1
    }
    val heap = liveHeapMb()
    progress(s"${ops.length} operations timed, $failed failed")

    val checks =
      try w.check(ctx)
      catch { case e: Exception => Seq(s"check raised $e") }

    progress(s"checked: ${if (checks.isEmpty) "correct" else checks.mkString("; ")}")
    var perLayer = Map.empty[String, Double]
    if (tracer.enabled) {
      val ratios = tracer.span("probe")(w.ratios(ctx))
      tracer.drain()
      val totals = tracer.listener.snapshot()
      perLayer = TraceReport.perLayer(tracer.spans, totals) ++
        ratios.map { case ((span, kind), v) => s"$span.$kind" -> v }
      perLayer ++= w.derived(perLayer)
    }
    spark.stop()
    progress("session stopped")
    RunResult(setupS, warmupS, ops.toSeq, rounds.toSeq, failed, checks, heap, perLayer)
  }
}
