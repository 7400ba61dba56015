package perfbench

import scala.collection.mutable

import graft.operators.{Curation, Dedup, Graph, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest and serve: small requests against indexes built in set-up, one
  * client, closed loop. The request stream repeats a cycle of four:
  *   - `curate`: a new document batch through the quality gate, MinHash-LSH
  *     fuzzy dedup, connected components, keep-best (lowest id) per
  *     component and embedding near-duplicate pairs;
  *   - `probe`: the curated batch deduplicated against the dedup index;
  *   - `append`: the probe's survivors admitted into both indexes;
  *   - one `query` batch: IVF top-k over the persisted index, query
  *     centres skewed toward hot clusters.
  * Appends grow the file count later requests read. A round is one cycle:
  * a run always ends on a cycle boundary, so every run times the same
  * request mix.
  */
final class IngestServe extends Workload {
  import IngestServe._

  val name = "ingest_serve"
  override val roundLength: Int = CycleLen
  private var gen: ServeInputs = _
  /** Curated batches by cycle number. */
  private val batches = mutable.LinkedHashMap.empty[Int, Corpus]
  private val probed = mutable.Set.empty[Int]
  private var appended = 0L

  def generate(ctx: Ctx, seed: Long): Unit = {
    gen = new ServeInputs(seed)
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(gen.corpus, 4), DocSchema)
      .write.mode("overwrite").parquet(ctx.path("in_corpus"))
  }

  def setUp(ctx: Ctx): Unit = {
    val corpus = ctx.spark.read.parquet(ctx.path("in_corpus"))
    ctx.write("operators.Dedup.writeDedupIndex", ctx.path("idx_dedup")) {
      Dedup.writeDedupIndex(corpus, ctx.path("idx_dedup"), numHashes = NumHashes, rowsPerBand = RowsPerBand)
    }
    ctx.write("operators.Similarity.buildIvfIndex", ctx.path("idx_ivf")) {
      Similarity.buildIvfIndex(corpus.select(col("doc_id").as("vec_id"), col("embedding")),
        ctx.path("idx_ivf"), nLists = NLists, maxIter = KMeansIter)
    }
  }

  private def frame(ctx: Ctx, rows: Seq[Row], schema: StructType): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)

  private def curate(ctx: Ctx, c: Int): (Op, () => Unit) = {
    val batch = gen.batch(c)
    batches(c) = batch
    val docs = frame(ctx, batch.docs.map(d => Row(d.id, d.text, Corpus.Lang, d.embedding)), RawSchema)
    (Op("curate", batch.docs.length.toLong), () => ctx.tracer.span("serve.curate") {
      val gated = ctx.step("operators.Curation.qualityGate", s"r_gate_$c")(Curation.qualityGate(docs))
      val kept = gated.filter(col("keep")).select("doc_id", "text", "embedding")
      val pairs = ctx.step("operators.Dedup.fuzzyDupPairs", s"r_pairs_$c") {
        Dedup.fuzzyDupPairs(kept, TextThreshold, numHashes = NumHashes, rowsPerBand = RowsPerBand)
      }
      val comps = ctx.step("operators.Graph.connectedComponents", s"r_components_$c") {
        Graph.connectedComponents(pairs)
      }
      val best = ctx.step("serve.keepBestPerComponent", s"r_curated_$c") {
        kept.join(comps.filter(col("node") =!= col("component")).select(col("node").as("doc_id")),
          Seq("doc_id"), "left_anti")
      }
      ctx.step("operators.Dedup.embeddingNearDupPairsBanded", s"r_emb_pairs_$c") {
        Dedup.embeddingNearDupPairsBanded(
          best.select(col("doc_id").as("vec_id"), col("embedding")), EmbThreshold, dim = Corpus.Dim)
      }
    })
  }

  private def probe(ctx: Ctx, c: Int): (Op, () => Unit) =
    (Op("probe", batches(c).curated.size.toLong), () => ctx.tracer.span("serve.probe") {
      val curated = ctx.spark.read.parquet(ctx.path(s"r_curated_$c"))
      ctx.step("operators.Dedup.dedupAgainstIndex", s"r_probe_$c") {
        Dedup.dedupAgainstIndex(ctx.spark, curated, ctx.path("idx_dedup"), ProbeThreshold,
          numHashes = NumHashes, rowsPerBand = RowsPerBand)
      }
      probed += c
    })

  private def append(ctx: Ctx, c: Int): (Op, () => Unit) =
    (Op("append", batches(c).fresh.size.toLong), () => ctx.tracer.span("serve.append") {
      val survivors = ctx.spark.read.parquet(ctx.path(s"r_probe_$c"))
      ctx.write("operators.Dedup.appendToDedupIndex", ctx.path("idx_dedup")) {
        Dedup.appendToDedupIndex(survivors, ctx.path("idx_dedup"), numHashes = NumHashes,
          rowsPerBand = RowsPerBand)
      }
      ctx.write("operators.Similarity.appendToIvfIndex", ctx.path("idx_ivf")) {
        Similarity.appendToIvfIndex(survivors.select(col("doc_id").as("vec_id"), col("embedding")),
          ctx.path("idx_ivf"))
      }
      appended += batches(c).fresh.size
    })

  private def query(ctx: Ctx, b: Int): (Op, () => Unit) = {
    val queries = frame(ctx, gen.queryBatch(b), VecSchema)
    (Op("query", QueryBatch.toLong), () => ctx.tracer.span("serve.query") {
      ctx.stepNoop("operators.Similarity.ivfTopKIndexed") {
        Similarity.ivfTopKIndexed(queries, ctx.path("idx_ivf"), K, NProbe)
      }
      if (ctx.tracer.enabled)
        ctx.tracer.count("index_mb", Ctx.bytesUnder(ctx.path("idx_ivf") + "/cells") / TraceReport.Mb)
    })
  }

  /** Warm-up (i = 0) runs cycle 0 whole; then one request per operation. */
  def op(ctx: Ctx, i: Int): (Op, () => Unit) =
    if (i == 0) {
      val cur = curate(ctx, 0)
      (Op("warmup", 0L), () => {
        cur._2()
        probe(ctx, 0)._2()
        append(ctx, 0)._2()
        query(ctx, 0)._2()
      })
    } else {
      val c = (i - 1) / CycleLen + 1
      (i - 1) % CycleLen match {
        case 0 => curate(ctx, c)
        case 1 => probe(ctx, c)
        case 2 => append(ctx, c)
        case q => query(ctx, c * CycleLen + q)
      }
    }

  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val errs = mutable.ArrayBuffer.empty[String]
    def rows(t: String, cols: String*): Array[Row] =
      spark.read.parquet(ctx.path(t)).select(cols.map(col): _*).collect()
    batches.foreach { case (c, batch) =>
      errs ++= TextChecks.all(batch,
        gate = rows(s"r_gate_$c", "doc_id", "keep", "reason"),
        components = rows(s"r_components_$c", "node", "component"),
        kept = rows(s"r_curated_$c", "doc_id"),
        embPairs = rows(s"r_emb_pairs_$c", "a", "b")).map(m => s"cycle $c $m")
      // probe survivors are exactly the planted fresh documents
      if (probed(c)) {
        val got = rows(s"r_probe_$c", "doc_id").map(_.getLong(0))
        if (got.toSet != batch.fresh || got.length != batch.fresh.size)
          errs += s"cycle $c dedupAgainstIndex: ${got.length} survivors, ${batch.fresh.size} planted"
      }
    }
    // the IVF index holds the corpus plus every appended survivor
    val cells = spark.read.parquet(ctx.path("idx_ivf") + "/cells")
    val snapshot = cells.select("neighbor_id", "c_emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    if (snapshot.length != gen.corpus.length + appended)
      errs += s"IVF index: ${snapshot.length} vectors, ${gen.corpus.length + appended} expected"
    // recall@k of the IVF search against exact search on this snapshot
    val qs = gen.queryBatch(-1)
    val queries = frame(ctx, qs, VecSchema)
    def topK(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = qs.map { r =>
      val q = r.getSeq[Float](1).toArray
      r.getLong(0) -> snapshot.map { case (id, v) => (id, ServeInputs.cosine(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
    }.toMap
    val brute = topK(Similarity.bruteForceTopK(queries,
      cells.select(col("neighbor_id").as("vec_id"), col("c_emb").as("embedding")), K))
    if (brute != exact) errs += "bruteForceTopK differs from exact top-k"
    val ivf = topK(Similarity.ivfTopKIndexed(queries, ctx.path("idx_ivf"), K, NProbe))
    val recall = exact.map { case (q, want) => (ivf.getOrElse(q, Set.empty) & want).size }.sum.toDouble /
      (K * exact.size)
    if (recall < MinRecall) errs += f"ivfTopKIndexed recall@$K = $recall%.3f < $MinRecall"
    errs.toSeq
  }

  /** Verified pairs per LSH candidate pair on the last curated batch,
    * through the staged operators.
    */
  override def ratios(ctx: Ctx): Map[(String, String), Double] = {
    val kept = ctx.spark.read.parquet(ctx.path(s"r_gate_${batches.keys.max}")).filter(col("keep"))
    val cand = Dedup.minhashCandidatePairs(kept, numHashes = NumHashes, rowsPerBand = RowsPerBand).cache()
    val nCand = cand.count()
    val nVerified = Dedup.jaccardVerify(kept, cand, TextThreshold).count()
    cand.unpersist()
    Map(("operators.Dedup.fuzzyDupPairs", "lsh_precision") ->
      (if (nCand == 0) 0.0 else nVerified.toDouble / nCand))
  }

  override def derived(perLayer: Map[String, Double]): Map[String, Double] = {
    val span = "operators.Similarity.ivfTopKIndexed"
    val idx = perLayer.getOrElse("serve.query.index_mb", 0.0)
    Map(s"$span.ivf_read_fraction" ->
      (if (idx > 0) perLayer.getOrElse(s"$span.input_mb", 0.0) / idx else 0.0))
  }
}

object IngestServe {
  val NumHashes = 16
  val RowsPerBand = 2
  val TextThreshold = 0.7
  val EmbThreshold = 0.95
  val ProbeThreshold = 0.8
  val NLists = 16
  val KMeansIter = 2
  val NProbe = 3
  val K = 10
  val MinRecall = 0.9
  val QueryBatch = 16
  val CycleLen = 4

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val RawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}

/** Seeded serving inputs: a corpus of 200-token documents whose 64-d
  * embeddings sit around 16 cluster centres; one curate batch per cycle
  * ([[Corpus]], with copies of 16 and one-edit copies of 16 other corpus
  * documents); query batches whose centres follow Zipf(1.2) over the
  * clusters. Every batch is a pure function of (seed, batch number).
  */
final class ServeInputs(seed: Long) {
  import ServeInputs._

  private def rndFor(salt: Long) = new scala.util.Random(seed * 1000003L + salt)
  private def word(r: scala.util.Random) = f"w${r.nextInt(Corpus.Vocab)}%05d"
  private def text(r: scala.util.Random): Array[String] =
    Array.tabulate(200)(i => if (i % 4 == 3) Corpus.EnStop(r.nextInt(Corpus.EnStop.length)) else word(r))
  private val centers: Array[Array[Float]] = {
    val r = rndFor(-7)
    Array.fill(Clusters)(normalize(Array.fill(Dim)(r.nextGaussian().toFloat)))
  }
  private def vec(r: scala.util.Random, c: Int): Seq[Float] =
    normalize(centers(c).map(x => x + (r.nextGaussian() * Noise).toFloat)).toSeq

  val corpus: Seq[Row] = {
    val r = rndFor(-1)
    (1 to CorpusDocs).map(i => Row(i.toLong, text(r).mkString(" "), vec(r, r.nextInt(Clusters))))
  }

  /** The curate batch of cycle `c`; ids start at 10^8 + 10^4·c. */
  def batch(c: Int): Corpus = {
    val r = rndFor(c)
    val picked = r.shuffle(corpus.indices.toList).take(2 * CopiesPerBatch).map(corpus(_).getString(1))
    new Corpus(seed * 7919L + c, 100000000L + 10000L * c, picked.take(CopiesPerBatch),
      picked.drop(CopiesPerBatch))
  }

  private val zipf: Array[Double] = {
    val w = (1 to Clusters).map(k => math.pow(k, -1.2))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def queryBatch(b: Int): Seq[Row] = {
    val r = rndFor(1000000L + b)
    (0 until IngestServe.QueryBatch).map { j =>
      val u = r.nextDouble()
      val c = zipf.indexWhere(_ >= u) max 0
      Row(900000000L + b.toLong * 100 + j, vec(r, c))
    }
  }
}

object ServeInputs {
  val Dim = 64
  val Clusters = 16
  val Noise = 0.05
  val CorpusDocs = 500
  val CopiesPerBatch = 16

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** Cosine in double precision, as the engine's kernel computes it. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
