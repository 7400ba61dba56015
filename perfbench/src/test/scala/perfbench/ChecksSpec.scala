package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The correctness checks accept the closed-form answer and reject a
  * planted corruption of it. No engine involved: the rows are built from
  * the generators' own planted structure.
  */
class ChecksSpec extends AnyFunSuite {
  import LulcRaster._

  private val scenes = new LulcScenes(11L)

  /** The outputs a correct lulc_raster pass writes, as the checks read them. */
  private def lulcAnswer(segOf: Array[Int] = LulcChecks.expectedSegments(scenes)) = {
    val g = scenes.grid
    val cells = for (r <- 0 until g; c <- 0 until g) yield (r, c)
    val dem = cells.map { case (r, c) =>
      val u = (c + 0.5) / DemCell - 0.5
      val v = (r + 0.5) / DemCell - 0.5
      Row(r, c, DemA * u + DemB * v + DemC)
    }
    val pixels = cells.map { case (r, c) => Row(r, c, scenes.classAt(r, c)) }
    val segments = cells.map { case (r, c) => Row(r, c, segOf(r * g + c).toLong) }
    val bySeg = cells.groupBy { case (r, c) => segOf(r * g + c).toLong }
    val measures = bySeg.toSeq.flatMap { case (seg, cs) =>
      LulcChecks.parts(cs.toSet).map { case (k, perim) => Row(seg, k.toLong, k.toDouble, perim.toDouble) }
    }
    val overlay = scenes.trainRects.map { case (id, label, r0, c0, h, w) =>
      Row(segOf(r0 * g + c0).toLong, id, label, (h * w).toDouble)
    }
    val classes = bySeg.toSeq.map { case (seg, cs) => Row(seg, scenes.classAt(cs.head._1, cs.head._2)) }
    val geo = measures.map(m => Row(m.getLong(0), scenes.classAt(bySeg(m.getLong(0)).head._1,
      bySeg(m.getLong(0)).head._2)))
    (dem.toArray, pixels.toArray, segments.toArray, measures.toArray, overlay.toArray,
      classes.toArray, geo.toArray)
  }

  private def lulcCheck(a: (Array[Row], Array[Row], Array[Row], Array[Row], Array[Row], Array[Row], Array[Row])) =
    LulcChecks.all(scenes, a._1, a._2, a._3, a._4, a._5, a._6, a._7)

  test("lulc_raster: the closed-form answer passes") {
    assert(lulcCheck(lulcAnswer()) == Nil)
  }

  test("lulc_raster: one dropped segment fails the segment census") {
    val exp = LulcChecks.expectedSegments(scenes)
    val g = scenes.grid
    // fold one segment into the segment of its left neighbour's pixel
    val victim = exp.zipWithIndex.find { case (s, i) => i % g > 0 && exp(i - 1) != s }.get._1
    val donor = exp(exp.indexOf(victim) - 1)
    val corrupt = exp.map(s => if (s == victim) donor else s)
    val errs = lulcCheck(lulcAnswer(corrupt))
    assert(errs.exists(_.startsWith("segmentTiles")), errs)
  }

  test("lulc_raster: a wrong polygon area fails") {
    val a = lulcAnswer()
    val m = a._4.clone()
    m(0) = Row(m(0).getLong(0), m(0).getLong(1), m(0).getDouble(2) + 1.0, m(0).getDouble(3))
    assert(lulcCheck(a.copy(_4 = m)).exists(_.startsWith("polygons")))
  }

  private val batch = new Corpus(5L, 1000L, copies = Seq("c1 c2 c3 the", "c5 c6 c7 of"),
    nearCopies = Seq("n1 n2 n3 and n5 n6 n7 is"), nSingles = 30, nClusters = 8, nJunk = 6, nEmbPairs = 3)

  private def textAnswer = {
    val kinds = batch.docs.map(d => d.id -> d.kind)
    val gate = kinds.map { case (id, k) =>
      val ok = k == "variant" || Corpus.Curated(k)
      Row(id, ok, if (ok) "ok" else k)
    }
    val components = batch.plantedClusters.flatMap(cl => cl.map(n => Row(n, cl.min)))
    val kept = batch.curated.toSeq.map(Row(_))
    val emb = batch.plantedEmbPairs.toSeq.map { case (a, b) => Row(a, b) }
    (gate.toArray, components.toArray, kept.toArray, emb.toArray)
  }

  test("curate: the closed-form answer passes") {
    val (g, c, k, e) = textAnswer
    assert(TextChecks.all(batch, g, c, k, e) == Nil)
  }

  test("curate: one extra duplicate pair fails the component check") {
    val (g, c, k, e) = textAnswer
    val single = batch.docs.find(_.kind == "single").get.id
    val cluster = batch.plantedClusters.head
    val extra = c :+ Row(single, math.min(single, cluster.min))
    val errs = TextChecks.all(batch, g, extra, k, e)
    assert(errs.exists(_.startsWith("connectedComponents")), errs)
  }

  test("curate: one extra embedding pair fails") {
    val (g, c, k, e) = textAnswer
    val ids = batch.fresh.toSeq.sorted
    val errs = TextChecks.all(batch, g, c, k, e :+ Row(ids(0), ids(1)))
    assert(errs.exists(_.startsWith("embeddingNearDupPairsBanded")), errs)
  }
}
