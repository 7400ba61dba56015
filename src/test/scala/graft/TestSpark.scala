package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM.
  *
  * Every spec reaches Spark through this session, so it exists before any
  * query initializes `CodeGenerator`, which reads the codegen cache size
  * from [[GraftSession]] once per JVM (CodegenReuseSpec depends on that).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
