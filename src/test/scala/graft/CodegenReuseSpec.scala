package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A repeated pass must reuse the classes Spark generated for it before.
  *
  * Spark's codegen cache is an LRU of `spark.sql.codegen.cache.maxEntries`
  * generated classes. A pass that cycles through more distinct classes than
  * the cache holds evicts each one just before it is needed again, so every
  * repeat recompiles everything. The pass below generates well over Spark's
  * default 100 classes (primitive literals are inlined into the generated
  * source, so each filter literal is a distinct class); with the size
  * [[GraftSession]] sets, its second run compiles nothing.
  */
class CodegenReuseSpec extends AnyFunSuite {
  // Built with the suite, before anything here touches CodeGenerator: the
  // cache size is read once per JVM, when CodeGenerator initializes.
  val spark = TestSpark.spark

  private val distinctQueries = 150

  private def pass(): Unit =
    for (i <- 0 until distinctQueries)
      spark.range(4).filter(col("id") =!= lit(1000L + i)).collect()

  private def compiledClasses: Long =
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

  test("a warm pass over more than 100 distinct generated classes compiles nothing") {
    val c0 = compiledClasses
    pass()
    val c1 = compiledClasses
    // precondition: the pass really exceeds Spark's default cache size
    assert(c1 - c0 > 100, s"cold pass compiled only ${c1 - c0} classes")
    pass()
    assert(compiledClasses - c1 === 0L, "warm pass recompiled generated classes")
  }
}
