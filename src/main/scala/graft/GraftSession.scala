package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Design notes (SURVEY.md §4): the reference hand-tunes parallelism
  * (ProcessPoolExecutor, cpu_count-2 workers — feature_stacking.py:45,186) and
  * memory bounds (15-model batches, 256-row strips — pixel_classifier_stream.py:42-43).
  * On Spark these become cluster-level knobs: AQE for runtime re-planning
  * (skew joins, partition coalescing), zstd parquet, and a shuffle-partition
  * count matched to the local core count rather than the 200 default.
  * At real cluster scale the same code runs with `spark.sql.shuffle.partitions`
  * sized to ~2-3× total cores and AQE coalescing down from there.
  */
object GraftSession {

  /** Size of Spark's generated-code cache (`spark.sql.codegen.cache.maxEntries`).
    *
    * The cache is an LRU of compiled sources. Spark's default of 100 entries
    * is smaller than one pass of this engine's pipelines, so a repeated pass
    * evicts each entry just before it needs it again and recompiles
    * everything: a warm perfbench `lulc_raster` pass compiled ~406 generated
    * classes although the whole run has ~236 distinct ones. The largest
    * working set is `Bench`'s warm-up: one pass over the full registry at
    * sf0.001 compiles 2483 distinct sources (6437 classes, counted by
    * `CodegenMetrics` with an oversized cache); the same registry at sf0.01
    * adds 141 more. 4096 holds that with headroom and both perfbench workloads
    * (~250 each) many times over. A cached entry retains ~32 KB of heap
    * (measured after GC: 222 MB with the registry pass cached vs 146 MB at
    * 100 entries), so a full cache costs ~130 MB.
    *
    * Spark reads this static conf once per JVM, when the `CodeGenerator`
    * object first initializes. It takes effect only if a session built from
    * [[builder]] exists before anything touches `CodeGenerator` (a query, or
    * a read of `CodeGenerator.compileTime`); otherwise the JVM keeps 100
    * entries for its lifetime.
    */
  val CodegenCacheEntries: Int = 4096

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Non-ANSI mode: div-by-zero → NULL, overflow wraps — matches the
      // DuckDB oracle's double semantics and the reference's NaN-tolerant
      // NumPy kernels (SURVEY.md §7 hard part d).
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // INT64 micros instead of the legacy INT96 default: INT96 is
      // deprecated by parquet-format and carries NO column statistics, so
      // every timestamp-keyed store was unskippable (ZoneMap.build had to
      // re-scan data its own write just produced). Spark timestamps are
      // micros internally — the roundtrip is value-exact either way
      // (dual-SF parity green across the registry).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
