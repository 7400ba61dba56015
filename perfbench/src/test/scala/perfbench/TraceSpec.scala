package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Span], root: Int, start: Long, end: Long, name: String = "s") = {
    val s = new Span(id, name, parent, root)
    s.startNs = start
    s.endNs = end
    s
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val p = span(1, None, 1, 0, 100)
    val kids = Seq(
      span(2, Some(p), 1, 10, 30),
      span(3, Some(p), 1, 20, 40),  // overlaps the first: 10..40 counted once
      span(4, Some(p), 1, 60, 70),
      span(5, Some(p), 1, 95, 120)) // runs past the parent: only 95..100 counts
    assert(Span.selfNs(p, kids) == 100 - 30 - 10 - 5)
    assert(Span.selfNs(p, Nil) == 100)
  }

  test("per-layer numbers are medians over operations, not warm-up roots") {
    val warm = span(1, None, 1, 0, 1000, "warmup")
    val inWarm = span(2, Some(warm), 1, 0, 900, "layer")
    val ops = (0 until 3).flatMap { i =>
      val op = span(10 + 2 * i, None, 2 + i, 0, 100, "op")
      Seq(op, span(11 + 2 * i, Some(op), 2 + i, 0, 10 * (i + 1), "layer"))
    }
    val pl = TraceReport.perLayer(Seq(warm, inWarm) ++ ops, Map.empty)
    assert(pl("layer.wall_s") == 20e-9)
    assert(pl("op.self_s") == 80e-9)
    assert(pl("warmup.wall_s") == 1000e-9)
  }

  test("the job-group listener attributes a job to the span that ran it") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = new Tracer(enabled = true)
      t.attach(spark.sparkContext)
      t.span("outer") {
        spark.range(0, 10, 1, 2).write.format("noop").mode("overwrite").save()
        t.span("inner")(spark.sparkContext.parallelize(1 to 30, 3).map(_ * 2).collect())
      }
      t.span("after")(spark.sparkContext.parallelize(1 to 5, 5).count())
      t.drain()
      val totals = t.listener.snapshot()
      val byName = t.spans.map(s => s.name -> s.id).toMap
      assert(totals(byName("inner")).jobs == 1 && totals(byName("inner")).tasks == 3)
      assert(totals(byName("after")).tasks == 5)
      assert(totals(byName("outer")).tasks == 2)
      val k = TraceReport.kinds(t.spans, totals)
      assert(k(byName("outer"))("tasks") == 5.0) // inclusive of the inner span
      assert(k(byName("outer"))("self_s") < k(byName("outer"))("wall_s"))
    } finally spark.stop()
  }
}
