package perfbench

import java.io.{File, PrintWriter}

/** Runs one workload and writes every metric it measured to a JSON file;
  * `run.py` picks the published ones and prints the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --out <result file>
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "lulc_raster" -> (() => new LulcRaster),
    "ingest_serve" -> (() => new IngestServe))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(arg("workload"),
      sys.error(s"unknown workload ${arg("workload")}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))()
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val dir = new File(arg("work"))
    dir.mkdirs()

    Harness.progress("started")
    CodegenFallbacks.install()
    val r = Harness.run(workload, seed, seconds, new Tracer(trace), dir.getAbsolutePath)

    val times = r.ops.map(_._2)
    val attempted = r.ops.length + r.failedOps
    val failed = r.failedOps + (if (r.checkFailures.nonEmpty) 1 else 0)
    def metric(v: Double, unit: String, n: Int) = Map("value" -> v, "unit" -> unit, "n" -> n)
    val endToEnd = Map(
      "setup_s" -> metric(r.setupS + r.warmupS, "s", 1),
      "round_ms_p50" -> metric(Stats.median(r.rounds) * 1e3, "ms", r.rounds.length),
      "rows_per_s" -> metric(r.ops.map(_._1.rows).sum / times.sum, "rows/s", times.length),
      "live_heap_mb" -> metric(r.liveHeapMb, "MB", 3))
    // per operation kind, and p90 where at least ten samples lie beyond it
    val byKind = r.ops.groupBy(_._1.kind).toSeq.sortBy(_._1).flatMap { case (k, ops) =>
      val ts = ops.map(_._2)
      Seq(s"${k}_ms_p50" -> metric(Stats.median(ts) * 1e3, "ms", ts.length)) ++
        (if (ts.length >= 100) Seq(s"${k}_ms_p90" -> metric(Stats.quantile(ts, 0.9) * 1e3, "ms", ts.length))
         else Nil)
    }
    val detail = byKind ++
      (if (times.length > 1) Seq("op_ms_p50" -> metric(Stats.median(times) * 1e3, "ms", times.length)) else Nil) ++
      (if (times.length >= 100) Seq("op_ms_p90" -> metric(Stats.quantile(times, 0.9) * 1e3, "ms", times.length))
       else Nil) ++
      Seq("fail_ratio" -> metric(failed.toDouble / attempted, "ratio", attempted))

    val out = Map(
      "workload" -> workload.name,
      "seed" -> seed,
      "trace" -> trace,
      "correct" -> r.checkFailures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "check_failures" -> r.checkFailures,
      "setup_s_parts" -> Map("setup" -> r.setupS, "warmup" -> r.warmupS),
      "end_to_end" -> endToEnd,
      "detail" -> detail.toMap,
      "per_layer" -> r.perLayer)
    val pw = new PrintWriter(arg("out"), "UTF-8")
    try pw.println(Json(out)) finally pw.close()
    r.checkFailures.foreach(m => System.err.println(s"[perfbench] check failed: $m"))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
