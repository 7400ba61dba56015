package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** One traced interval around a call into a layer. `root` is the index of
  * the top-level span (one set-up repetition, one pass or one request)
  * this span belongs to; per-layer numbers are medians over roots.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span], val root: Int) {
  var startNs: Long = 0L
  var endNs: Long = 0L
  /** build, plan and exec phase time in ns (see [[Ctx.step]]). */
  val phaseNs: Array[Long] = new Array[Long](3)
  /** Counts the benchmark takes itself: codegen deltas, files, ratios. */
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def wallNs: Long = endNs - startNs
}

object Span {
  val Build = 0
  val Plan = 1
  val Exec = 2

  /** Duration minus the part of the span's interval its children cover.
    * Children are clipped to the parent and overlaps counted once.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.wallNs - covered
  }
}

/** Executor-side totals of the jobs run under one span's job group. */
final class JobTotals {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var fetchWaitMs = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var aqeReplans = 0L

  def add(o: JobTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; schedWaitMs += o.schedWaitMs; gcMs += o.gcMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    fetchWaitMs += o.fetchWaitMs; spillB += o.spillB
    inputB += o.inputB; outputB += o.outputB; aqeReplans += o.aqeReplans
  }
}

/** Attributes jobs, stages, tasks and AQE re-plans to spans through the
  * job group the tracer sets around each span (`pb-<span id>`). The
  * totals are read only after the listener bus is drained.
  */
final class JobGroupListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val aqeByExec = new ConcurrentHashMap[Long, AtomicLong]()
  private val totals = new ConcurrentHashMap[Int, JobTotals]()

  private def totalsOf(span: Int): JobTotals = totals.computeIfAbsent(span, _ => new JobTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(JobGroupListener.Prefix)).foreach { g =>
      val span = g.stripPrefix(JobGroupListener.Prefix).toInt
      val t = totalsOf(span)
      t.synchronized { t.jobs += 1 }
      e.stageIds.foreach(s => stageSpan.put(s, span))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageSpan.containsKey(e.stageId)) return
    val t = totalsOf(stageSpan.get(e.stageId))
    t.synchronized {
      t.tasks += 1
      if (e.reason != Success) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillB += m.diskBytesSpilled
        t.inputB += m.inputMetrics.bytesRead
        t.outputB += m.outputMetrics.bytesWritten
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          t.schedWaitMs += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
            gettingResult)
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      aqeByExec.computeIfAbsent(u.executionId, _ => new AtomicLong).incrementAndGet()
    case _ =>
  }

  /** Per-span totals (exclusive: only the span's own job group). */
  def snapshot(): Map[Int, JobTotals] = {
    val out = mutable.HashMap.empty[Int, JobTotals]
    totals.asScala.foreach { case (s, t) =>
      val c = new JobTotals
      t.synchronized(c.add(t))
      out(s) = c
    }
    aqeByExec.asScala.foreach { case (exec, n) =>
      if (execSpan.containsKey(exec))
        out.getOrElseUpdate(execSpan.get(exec), new JobTotals).aqeReplans += n.get
    }
    out.toMap
  }
}

object JobGroupListener {
  val Prefix = "pb-"
}

/** Counts WARN-or-worse log lines that report a codegen fallback:
  * whole-stage codegen disabled for a plan, or an expression falling back
  * to the interpreter.
  */
object CodegenFallbacks {
  private val n = new AtomicLong
  @volatile private var installed = false

  def count: Long = n.get

  private def isFallback(msg: String): Boolean = {
    val m = msg.toLowerCase(java.util.Locale.ROOT)
    m.contains("codegen disabled") || m.contains("falling back to interpreter")
  }

  def install(): Unit = synchronized {
    if (!installed) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
              isFallback(e.getMessage.getFormattedMessage)) n.incrementAndGet()
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
      ctx.updateLoggers()
      installed = true
    }
  }
}

/** Spans around the benchmark's calls into the engine. With tracing off
  * every method only runs its body; the closed-loop timings of the
  * untraced run never pay for spans, job groups or plan forcing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private var nextId = 1
  private var rootCount = 0
  private var sc: Option[SparkContext] = None
  val listener = new JobGroupListener

  /** Register the listener on the session's context. */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    ctx.addSparkListener(listener)
    sc = Some(ctx)
  }

  /** Deliver every event posted so far to the listener. */
  def drain(): Unit = sc.filterNot(_.isStopped).foreach(org.apache.spark.perfbench.BusBridge.drain)

  private def setGroup(s: Option[Span]): Unit = sc.filterNot(_.isStopped).foreach { ctx =>
    s match {
      case Some(sp) => ctx.setJobGroup(JobGroupListener.Prefix + sp.id, sp.name, interruptOnCancel = false)
      case None => ctx.clearJobGroup()
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      if (current.isEmpty) rootCount += 1
      val s = new Span(nextId, name, current, rootCount)
      nextId += 1
      val compile0 = CodeGenerator.compileTime
      val classes0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      val fallbacks0 = CodegenFallbacks.count
      val prev = current
      current = Some(s)
      setGroup(current)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.counters("codegen_compile_s") = (CodeGenerator.compileTime - compile0) / 1e9
        s.counters("codegen_classes") =
          (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classes0).toDouble
        s.counters("codegen_fallbacks") = (CodegenFallbacks.count - fallbacks0).toDouble
        current = prev
        setGroup(current)
        done += s
      }
    }

  /** Time `body` as phase `p` of the innermost span. */
  def phase[T](p: Int)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally current.foreach(_.phaseNs(p) += System.nanoTime() - t0)
    }

  /** Add to a counter of the innermost span. */
  def count(name: String, value: Double): Unit =
    current.foreach(s => s.counters(name) = s.counters.getOrElse(name, 0.0) + value)

  def spans: Seq[Span] = done.toSeq
}

/** Turns a finished span list plus the listener's totals into per-span
  * metric kinds, and per-layer metrics as medians over roots.
  */
object TraceReport {
  val Mb = 1024.0 * 1024.0

  /** All kinds of one span, inclusive of its descendants except `self_s`. */
  def kinds(spans: Seq[Span], totals: Map[Int, JobTotals]): Map[Int, Map[String, Double]] = {
    val children = spans.groupBy(_.parent.map(_.id).getOrElse(0))
    val incl = mutable.HashMap.empty[Int, JobTotals]
    def inclusive(s: Span): JobTotals = incl.getOrElseUpdate(s.id, {
      val t = new JobTotals
      totals.get(s.id).foreach(t.add)
      children.getOrElse(s.id, Nil).foreach(c => t.add(inclusive(c)))
      t
    })
    spans.map { s =>
      val t = inclusive(s)
      s.id -> (Map(
        "wall_s" -> s.wallNs / 1e9,
        "self_s" -> Span.selfNs(s, children.getOrElse(s.id, Nil)) / 1e9,
        "build_s" -> s.phaseNs(Span.Build) / 1e9,
        "plan_s" -> s.phaseNs(Span.Plan) / 1e9,
        "exec_s" -> s.phaseNs(Span.Exec) / 1e9,
        "jobs" -> t.jobs.toDouble,
        "tasks" -> t.tasks.toDouble,
        "failed_tasks" -> t.failedTasks.toDouble,
        "cpu_s" -> t.cpuNs / 1e9,
        "sched_wait_s" -> t.schedWaitMs / 1e3,
        "gc_s" -> t.gcMs / 1e3,
        "shuffle_write_mb" -> t.shuffleWriteB / Mb,
        "shuffle_read_mb" -> t.shuffleReadB / Mb,
        "fetch_wait_s" -> t.fetchWaitMs / 1e3,
        "spill_mb" -> t.spillB / Mb,
        "input_mb" -> t.inputB / Mb,
        "output_mb" -> t.outputB / Mb,
        "aqe_replans" -> t.aqeReplans.toDouble) ++ s.counters)
    }.toMap
  }

  /** `<span name>.<kind>` → median, over the roots the name occurs in,
    * of the per-root sum. A name that occurs inside timed operations
    * (roots named `op`) takes only those roots, so warm-up passes inside
    * set-up do not count; set-up-only names (fits, index builds) take the
    * set-up roots.
    */
  def perLayer(spans: Seq[Span], totals: Map[Int, JobTotals]): Map[String, Double] = {
    val k = kinds(spans, totals)
    val rootName = spans.filter(_.parent.isEmpty).map(s => s.root -> s.name).toMap
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val inOps = ss.filter(s => rootName.get(s.root).contains("op"))
      val use = if (inOps.nonEmpty) inOps else ss
      val byRoot = use.groupBy(_.root).values.toSeq
      use.flatMap(s => k(s.id).keys).distinct.map { kind =>
        s"$name.$kind" -> Stats.median(byRoot.map(_.map(s => k(s.id).getOrElse(kind, 0.0)).sum))
      }
    }
  }
}
