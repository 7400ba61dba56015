package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

final case class Doc(id: Long, text: String, embedding: Seq[Float], kind: String)

/** One seeded document batch for the curate request. Good documents are
  * 160–240 tokens with an English stopword every fourth token.
  * Near-duplicate clusters have Zipf(1.5) sizes from 2 to 12: a base
  * document plus variants with two token edits each (3-shingle Jaccard
  * ≈ 0.94 to the base). Planted junk fails the quality gate: repetitive
  * boilerplate, short stopword-free snippets and German-stopword text
  * labelled English. `copies` and `nearCopies` are texts of distinct
  * indexed documents, added verbatim or with one token edited: they
  * survive curation and are dropped by the probe against the index.
  * Embeddings are random unit vectors, except planted semantic
  * near-duplicate pairs (cosine ≥ 0.9999) among documents that survive
  * curation.
  */
final class Corpus(val seed: Long, idBase: Long, copies: Seq[String], nearCopies: Seq[String],
    nSingles: Int = Corpus.Singles, nClusters: Int = Corpus.Clusters, nJunk: Int = Corpus.Junk,
    nEmbPairs: Int = Corpus.EmbPairs) {
  import Corpus._

  private val rnd = new scala.util.Random(seed)
  private def word(): String = f"w${rnd.nextInt(Vocab)}%05d"
  private def goodText(): Array[String] = {
    val n = 160 + rnd.nextInt(81)
    Array.tabulate(n)(i => if (i % 4 == 3) EnStop(rnd.nextInt(EnStop.length)) else word())
  }
  private def unit(): Array[Float] = ServeInputs.normalize(Array.fill(Dim)(rnd.nextGaussian().toFloat))
  private def zipfSize(): Int = {
    // inverse-CDF sample of a Zipf(1.5) over 2..MaxCluster
    val ks = 2 to MaxCluster
    val w = ks.map(k => math.pow(k - 1, -1.5))
    val u = rnd.nextDouble() * w.sum
    ks.zip(w.scanLeft(0.0)(_ + _).tail).find(_._2 >= u).map(_._1).getOrElse(MaxCluster)
  }

  /** The documents (shuffled), the planted clusters (base first) and the
    * planted embedding near-duplicate pairs.
    */
  val (docs, plantedClusters, plantedEmbPairs): (Seq[Doc], Seq[Seq[Long]], Set[(Long, Long)]) = {
    val out = mutable.ArrayBuffer.empty[Doc]
    var id = idBase
    def add(text: Array[String], kind: String): Long = {
      id += 1
      out += Doc(id, text.mkString(" "), unit().toSeq, kind)
      id
    }
    val cl = mutable.ArrayBuffer.empty[Seq[Long]]
    for (_ <- 0 until nClusters) {
      val base = goodText()
      val members = mutable.ArrayBuffer(add(base, "base"))
      for (_ <- 1 until zipfSize()) {
        val v = base.clone()
        var e = 0
        while (e < Edits) {
          val i = rnd.nextInt(v.length)
          if (i % 4 != 3) { v(i) = word(); e += 1 }
        }
        members += add(v, "variant")
      }
      cl += members.toSeq
    }
    for (_ <- 0 until nSingles) add(goodText(), "single")
    for (t <- copies) add(t.split(" "), "copy")
    for (t <- nearCopies) {
      val near = t.split(" ")
      near(4 * rnd.nextInt(near.length / 4)) = word()
      add(near, "near_copy")
    }
    for (j <- 0 until nJunk) j % 3 match {
      case 0 =>
        val phrase = Array("click", "the", "link", "to", "subscribe", "and", "share")
        add(Array.fill(30)(phrase).flatten, "repetitive")
      case 1 => add(Array.fill(8)(word()), "low_quality")
      case _ =>
        add(Array.tabulate(120)(i => if (i % 3 == 2) DeStop(rnd.nextInt(DeStop.length)) else word()),
          "lang_mismatch")
    }
    // semantic duplicates: copy an embedding onto another survivor, nudged
    val survivors = out.filter(d => d.kind == "base" || d.kind == "single").map(_.id).toArray
    val picked = rnd.shuffle(survivors.toSeq).take(2 * nEmbPairs).grouped(2).toSeq
    val byId = out.map(d => d.id -> d).toMap
    val nudged = picked.map { case Seq(a, b) =>
      val v = byId(a).embedding.map(x => x + (rnd.nextGaussian() * 1e-4).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      b -> v.map(_ / n)
    }.toMap
    (rnd.shuffle(out.map(d => nudged.get(d.id).map(v => d.copy(embedding = v)).getOrElse(d)).toSeq),
      cl.toSeq,
      picked.map { case Seq(a, b) => (math.min(a, b), math.max(a, b)) }.toSet)
  }

  /** Documents curation keeps: singles, cluster bases and index copies. */
  def curated: Set[Long] = docs.filter(d => Curated(d.kind)).map(_.id).toSet
  /** Documents the probe against the index keeps. */
  def fresh: Set[Long] = docs.filter(d => d.kind == "single" || d.kind == "base").map(_.id).toSet
}

object Corpus {
  /** Every document is labelled English, German text included. */
  val Lang = "en"
  val Curated = Set("single", "base", "copy", "near_copy")
  val Vocab = 20000
  val Dim = ServeInputs.Dim
  val Edits = 2
  val MaxCluster = 12
  val Singles = 200
  val Clusters = 40
  val Junk = 30
  val EmbPairs = 10
  val EnStop = Array("the", "and", "of", "to", "in", "is", "that")
  val DeStop = Array("der", "die", "und", "das", "nicht", "ist", "ein")
}

/** Closed-form answers for [[Corpus]], computed without the engine. */
object TextChecks {
  def all(c: Corpus, gate: Array[Row], components: Array[Row], kept: Array[Row],
      embPairs: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val kind = c.docs.map(d => d.id -> d.kind).toMap

    // quality gate: keep exactly the good documents, junk for its planted reason
    val gateBad = gate.count { r =>
      val k = kind(r.getLong(0))
      val want = if (k == "variant" || Corpus.Curated(k)) "ok" else k
      r.getString(2) != want || r.getBoolean(1) != (want == "ok")
    }
    if (gate.length != c.docs.length || gateBad > 0) errs += s"qualityGate: ${gate.length} rows, $gateBad wrong"

    // components equal the planted clusters
    val got = components.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val want = c.plantedClusters.map(_.toSet).toSet
    if (got != want)
      errs += s"connectedComponents: ${got.size} components, ${want.size} planted, " +
        s"${(got -- want).size} not planted, ${(want -- got).size} missed"

    // survivors: singles, cluster bases and index copies
    val keptIds = kept.map(_.getLong(0)).toSet
    val wantKept = c.curated
    if (keptIds != wantKept || kept.length != wantKept.size)
      errs += s"keepBest: ${keptIds.size} kept, ${wantKept.size} planted"

    // embedding near-duplicates: exactly the planted pairs
    val gotEmb = embPairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (gotEmb != c.plantedEmbPairs || embPairs.length != gotEmb.size)
      errs += s"embeddingNearDupPairsBanded: ${gotEmb.size} pairs, ${c.plantedEmbPairs.size} planted"

    errs.toSeq
  }
}
