package perfbench

import scala.collection.mutable

import graft.functions.{ClipExprs, ScalarOps, SpatialOps}
import graft.operators.{GeoParquet, Halo, MlOps, Regrid, Segmentation, SpatialJoin}
import graft.pipeline.Stages
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** The paper's four-stage raster→vector land-cover pipeline over seeded
  * PlanetScope-like scenes (see [[LulcScenes]]), one full pass per
  * operation. Each layer call writes its output, and the next call reads
  * it back, as the reference writes each stage's rasters and vectors.
  */
final class LulcRaster extends Workload {
  import LulcRaster._

  val name = "lulc_raster"
  private var scenes: LulcScenes = _
  private var pixelModel: PipelineModel = _
  private var backup: PipelineModel = _

  def generate(ctx: Ctx, seed: Long): Unit = {
    scenes = new LulcScenes(seed)
    scenes.write(ctx)
  }

  /** The two random forests, each fit on 100 rows per class of the
    * planted class features with ±2 % noise: the pixel classifier on the
    * feature-stack columns, the backup object classifier on segment means.
    * The classes separate on any band, so 20 trees of depth ≤ 8 suffice.
    */
  def setUp(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(scenes.seed ^ 0x5eed)
    def fit(features: Seq[String], value: Int => Seq[Double]): PipelineModel = {
      val rows = for (c <- Classes; _ <- 0 until 100)
        yield Row.fromSeq(c +: value(c).map(v => v * (0.98 + 0.04 * rnd.nextDouble())))
      val schema = StructType(StructField("label", IntegerType) +: features.map(StructField(_, DoubleType)))
      val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 4), schema)
      ctx.tracer.span("operators.MlOps.trainRf") {
        ctx.tracer.phase(Span.Build)(MlOps.trainRf(df, features, "label", numTrees = Trees, maxDepth = Depth))
      }
    }
    pixelModel = fit(PixelFeatures, c => MonthlyMonths.map(_ => ndvi(c)) ++ Spectra(c))
    backup = fit(WinBands.map(b => s"mean_$b"), Spectra)
  }

  def op(ctx: Ctx, i: Int): (Op, () => Unit) =
    (Op("pass", scenes.sceneRows), () => pass(ctx))

  private def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val g = scenes.grid
    val (stack, dem) = t.span("pipeline.stage0") {
      val dem = ctx.step("pipeline.Stages.alignAux", "s0_dem") {
        Stages.alignAux(spark.read.parquet(ctx.path("in_grid")), spark.read.parquet(ctx.path("in_dem")),
          Regrid.GridDef(0.0, g, 1.0, 1.0), Regrid.GridDef(0.0, g, DemCell, DemCell),
          Seq("elev"), bilinear = true)
      }
      val stack = ctx.step("pipeline.Stages.featureStack", "s0_stack") {
        Stages.featureStack(spark.read.parquet(ctx.path("in_scenes")), Bands, MonthlyMonths, WinterMonths)
      }
      (stack, dem)
    }
    // Stages.classifyPixels fits its forests inside the call; the pass
    // applies the forest fit in set-up with the same valid-row filter and
    // rule rewrites
    val pixels = t.span("pipeline.stage1") {
      val stacked = stack.join(dem, Seq("px_row", "px_col"))
      ctx.step("operators.MlOps.classify", "s1_pixels") {
        MlOps.classify(pixelModel, stacked.filter(ScalarOps.anyValid(PixelFeatures.map(col))))
          .withColumn("pred_label", ScalarOps.ruleRewrite(col("pred_label"), col("confidence")))
      }
    }
    val (segments, polys) = t.span("pipeline.stage2") {
      val feats = ctx.step("pipeline.Stages.prepareSegmentationFeatures", "s2_features") {
        Stages.prepareSegmentationFeatures(
          pixels.select((Seq("px_row", "px_col") ++ SegBands).map(col): _*), SegBands)
      }
      // sigma 0 keeps planted block edges exact (the m5b closed form);
      // Stages.segment fixes sigma at 0.5
      val segments = ctx.step("operators.Segmentation.segmentTiles", "s2_segments") {
        Segmentation.segmentTiles(feats, SegChannels, tileH = Tile, tileW = Tile, pad = Pad,
          scale = 10.0, minSize = 2, sigma = 0.0)
      }
      val polys = ctx.step("pipeline.Stages.polygons", "s2_polygons")(Stages.polygons(segments))
      (segments, polys)
    }
    t.span("pipeline.stage3") {
      val features = ctx.step("pipeline.Stages.segmentFeatures", "s3_features") {
        Stages.segmentFeatures(pixels.select((Seq("px_row", "px_col") ++ WinBands).map(col): _*),
          segments, WinBands)
      }
      ctx.step("functions.SpatialOps.wktMeasures", "s3_measures") {
        polys.select(col("seg_id"), col("part"), col("n_cells"),
          SpatialOps.wktArea(col("wkt")).as("area"),
          SpatialOps.wktPerimeter(col("wkt")).as("perimeter"),
          SpatialOps.wktNumPoints(col("wkt")).as("num_points"))
      }
      val overlay = ctx.step("operators.SpatialJoin.bboxJoin", "s3_overlay") {
        val left = polys.select(col("seg_id"), col("part"),
          SpatialOps.wktEnvelope(col("wkt")).as("env"), SpatialOps.wktRings(col("wkt")).as("rings"))
        val right = spark.read.parquet(ctx.path("in_train_polys"))
          .select(col("poly_id"), col("label"), SpatialOps.wktEnvelope(col("wkt")).as("t_env"))
        SpatialJoin.bboxJoin(left, right, "env", "t_env", cellSize = 32.0)
          .select(col("seg_id"), col("part"), col("poly_id"), col("label"),
            ClipExprs.clipArea(col("rings"), col("t_env")).as("ov_area"))
          .filter(col("ov_area") > 0.0)
      }
      val lookup = overlay.groupBy("seg_id")
        .agg(max(struct(col("ov_area"), (lit(0L) - col("poly_id")).as("p"), col("label"))).as("best"))
        .select(col("seg_id"), col("best.label").as("main_pred"))
      val objects = ctx.step("pipeline.Stages.classifyObjects", "s3_classes") {
        Stages.classifyObjects(features, lookup, backup)
          .select("seg_id", "n_px", "main_pred", "backup_pred", "PredClass")
      }
      val geo = polys.join(objects.select("seg_id", "PredClass"), Seq("seg_id"))
      ctx.write("operators.GeoParquet.writeGeoParquet", ctx.path("s3_objects")) {
        GeoParquet.writeGeoParquet(geo, ctx.path("s3_objects"), geomCol = "wkt")
      }
    }
  }

  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    def rows(t: String, cols: String*): Array[Row] =
      spark.read.parquet(ctx.path(t)).select(cols.map(col): _*).collect()
    LulcChecks.all(scenes,
      dem = rows("s0_dem", "px_row", "px_col", "elev"),
      pixels = rows("s1_pixels", "px_row", "px_col", "pred_label"),
      segments = rows("s2_segments", "px_row", "px_col", "seg_id"),
      measures = rows("s3_measures", "seg_id", "n_cells", "area", "perimeter"),
      overlay = rows("s3_overlay", "seg_id", "poly_id", "label", "ov_area"),
      classes = rows("s3_classes", "seg_id", "PredClass"),
      geo = GeoParquet.readGeoParquet(spark, ctx.path("s3_objects")).select("seg_id", "PredClass").collect())
  }

  /** Rows fed to the tile kernels per pixel: halo copies over the grid. */
  override def ratios(ctx: Ctx): Map[(String, String), Double] = {
    val fed = Halo.withHalo(ctx.spark.read.parquet(ctx.path("s2_features")), "px_row", "px_col",
      Tile, Tile, Pad).count()
    Map(("operators.Segmentation.segmentTiles", "halo_dup_ratio") -> fed.toDouble / scenes.pixels)
  }
}

object LulcRaster {
  val Bands: Seq[String] = (1 to 8).map(i => s"B$i")
  val WinBands: Seq[String] = Bands.map(b => s"win_$b")
  val MonthlyMonths = Seq(5, 6)
  val WinterMonths = Seq(1, 12)
  val ScenesPerMonth = 2
  val PixelFeatures: Seq[String] = MonthlyMonths.map(m => s"ndvi_m$m") ++ WinBands
  val SegBands = Seq("win_B8")
  val SegChannels: Seq[String] = (SegBands :+ "pca1").map(b => s"${b}_8bit")
  val Grid = 128
  val Block = 16
  val Tile = 64
  val Pad = 8
  val DemCell = 4
  val Classes: Seq[Int] = 1 to 4
  val Trees = 20
  val Depth = 8

  /** Band values per class (B1..B8): forest, crop, urban, water. Every
    * pair of classes differs in NDVI and by ≥ 20 % of the range in B8, so
    * the 8-bit stretch keeps classes ≥ 51 levels apart.
    */
  val Spectra: Map[Int, Seq[Double]] = Map(
    1 -> Seq(300, 400, 500, 600, 700, 400, 2500, 3000),
    2 -> Seq(500, 600, 700, 800, 900, 900, 1900, 2000),
    3 -> Seq(1200, 1300, 1400, 1500, 1600, 1800, 1900, 1000),
    4 -> Seq(800, 700, 600, 900, 300, 200, 250, 500)).map { case (k, v) => k -> v.map(_.toDouble) }

  /** NDVI of a class spectrum: (B8 − B6) / (B8 + B6). */
  def ndvi(c: Int): Double = (Spectra(c)(7) - Spectra(c)(5)) / (Spectra(c)(7) + Spectra(c)(5))

  /** DEM plane over aux cell indices: elev = A·col + B·row + C. */
  val DemA = 0.5
  val DemB = 2.0
  val DemC = 100.0
}

/** Seeded scene set: a grid of square blocks, each planted with one of
  * four land-cover classes (balanced, shuffled by seed); two scenes in
  * each of four months, 8 bands each; per pixel-month one observation in ten masked,
  * by udm2 or by the −9999 nodata sentinel, never both scenes of a month;
  * a DEM on a 4× coarser grid; and training rectangles inside blocks.
  */
final class LulcScenes(val seed: Long) {
  import LulcRaster._

  val grid: Int = Grid
  val nb: Int = Grid / Block
  val pixels: Long = grid.toLong * grid
  val sceneRows: Long = pixels * (MonthlyMonths.length + WinterMonths.length) * ScenesPerMonth

  val blockClass: Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    val flat = rnd.shuffle(Seq.tabulate(nb * nb)(i => Classes(i % Classes.length)))
    Array.tabulate(nb, nb)((r, c) => flat(r * nb + c))
  }

  def classAt(r: Int, c: Int): Int = blockClass(r / Block)(c / Block)

  /** Training rectangles (poly_id, label, r0, c0, h, w), one per chosen
    * block, at least one pixel inside the block's edges.
    */
  val trainRects: Seq[(Long, Int, Int, Int, Int, Int)] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    rnd.shuffle((0 until nb * nb).toList).take(24).zipWithIndex.map { case (b, i) =>
      val (br, bc) = (b / nb, b % nb)
      val h = 3 + rnd.nextInt(6)
      val w = 3 + rnd.nextInt(6)
      val r0 = br * Block + 1 + rnd.nextInt(Block - 2 - h + 1)
      val c0 = bc * Block + 1 + rnd.nextInt(Block - 2 - w + 1)
      (i.toLong + 1, blockClass(br)(bc), r0, c0, h, w)
    }
  }

  def write(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def save(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(ctx.path(name))

    val classLit = typedLit(blockClass.flatten.toSeq)
    val px = spark.range(0, pixels, 1, 8).select(
      (col("id") / grid).cast("int").as("px_row"), (col("id") % grid).cast("int").as("px_col"))
    save(px, "in_grid")

    val months = (MonthlyMonths ++ WinterMonths).map(lit(_))
    val cls = element_at(classLit,
      (floor(col("px_row") / Block) * nb + floor(col("px_col") / Block)).cast("int") + 1)
    val sel = pmod(xxhash64(col("px_row"), col("px_col"), col("month"), lit(seed)), lit(20))
    val obs = px
      .withColumn("month", explode(array(months: _*)))
      .withColumn("s", explode(array((0 until ScenesPerMonth).map(lit(_)): _*)))
      .withColumn("scene_id", (col("month") * 10 + col("s")).cast("long"))
      .withColumn("cls", cls)
      .withColumn("udm2_clear", !(sel === 0 && col("s") === 0))
      .withColumn("nodata", sel === 1 && col("s") === 1)
    val bandCols = Bands.zipWithIndex.map { case (b, i) =>
      val v = Classes.foldLeft(lit(null).cast("float")) { (acc, c) =>
        when(col("cls") === c, lit(Spectra(c)(i).toFloat)).otherwise(acc)
      }
      when(col("nodata"), lit(-9999.0f)).otherwise(v).as(b)
    }
    save(obs.select(Seq(col("scene_id"), col("month"), col("px_row"), col("px_col")) ++ bandCols :+
      col("udm2_clear"): _*), "in_scenes")

    val n = grid / DemCell
    save((for (r <- 0 until n; c <- 0 until n) yield (r, c, DemA * c + DemB * r + DemC))
      .toDF("px_row", "px_col", "elev"), "in_dem")

    save(trainRects.map { case (id, label, r0, c0, h, w) =>
      (id, label, s"POLYGON (($c0 $r0, ${c0 + w} $r0, ${c0 + w} ${r0 + h}, $c0 ${r0 + h}, $c0 $r0))")
    }.toDF("poly_id", "label", "wkt"), "in_train_polys")
  }
}

/** Closed-form answers for [[LulcScenes]], computed without the engine. */
object LulcChecks {
  import LulcRaster._

  /** Expected segment of every pixel: within each tile, the 8-connected
    * same-class components of the tile grown by the halo, restricted to
    * the tile's core. Returns a segment key per pixel (row-major).
    */
  def expectedSegments(s: LulcScenes): Array[Int] = {
    val g = s.grid
    val key = Array.fill(g * g)(-1)
    var next = 0
    for (ty <- 0 until (g + Tile - 1) / Tile; tx <- 0 until (g + Tile - 1) / Tile) {
      val (r0, r1) = (math.max(0, ty * Tile - Pad), math.min(g, (ty + 1) * Tile + Pad))
      val (c0, c1) = (math.max(0, tx * Tile - Pad), math.min(g, (tx + 1) * Tile + Pad))
      val comp = mutable.HashMap.empty[(Int, Int), Int]
      for (r <- r0 until r1; c <- c0 until c1 if !comp.contains((r, c))) {
        val label = comp.size
        val cls = s.classAt(r, c)
        val stack = mutable.Stack((r, c))
        comp((r, c)) = label
        while (stack.nonEmpty) {
          val (a, b) = stack.pop()
          for (da <- -1 to 1; db <- -1 to 1) {
            val (na, nb) = (a + da, b + db)
            if (na >= r0 && na < r1 && nb >= c0 && nb < c1 && !comp.contains((na, nb)) &&
                s.classAt(na, nb) == cls) {
              comp((na, nb)) = label
              stack.push((na, nb))
            }
          }
        }
      }
      val ids = mutable.HashMap.empty[Int, Int]
      for (r <- ty * Tile until math.min(g, (ty + 1) * Tile); c <- tx * Tile until math.min(g, (tx + 1) * Tile))
        key(r * g + c) = ids.getOrElseUpdate(comp((r, c)), { next += 1; next })
    }
    key
  }

  /** 4-connected parts of a cell set as (cells, perimeter). */
  def parts(cells: Set[(Int, Int)]): Seq[(Int, Int)] = {
    val seen = mutable.HashSet.empty[(Int, Int)]
    cells.toSeq.sorted.flatMap { start =>
      if (seen(start)) None
      else {
        val stack = mutable.Stack(start)
        seen += start
        var n = 0
        var perim = 0
        while (stack.nonEmpty) {
          val (r, c) = stack.pop()
          n += 1
          for ((dr, dc) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))) {
            val nb = (r + dr, c + dc)
            if (!cells(nb)) perim += 1
            else if (!seen(nb)) { seen += nb; stack.push(nb) }
          }
        }
        Some((n, perim))
      }
    }.sorted
  }

  def all(s: LulcScenes, dem: Array[Row], pixels: Array[Row], segments: Array[Row],
      measures: Array[Row], overlay: Array[Row], classes: Array[Row], geo: Array[Row]): Seq[String] = {
    val g = s.grid
    val errs = mutable.ArrayBuffer.empty[String]
    def lin(r: Row): Int = r.getInt(0) * g + r.getInt(1)

    // stage 0: bilinear DEM reproduces the plane wherever all four taps exist
    val n = g / DemCell
    val demBad = dem.count { r =>
      val u = (r.getInt(1) + 0.5) / DemCell - 0.5
      val v = (r.getInt(0) + 0.5) / DemCell - 0.5
      val inside = math.floor(u) >= 0 && math.floor(u) + 1 <= n - 1 &&
        math.floor(v) >= 0 && math.floor(v) + 1 <= n - 1
      r.isNullAt(2) || (inside && math.abs(r.getDouble(2) - (DemA * u + DemB * v + DemC)) > 1e-9)
    }
    if (dem.length != g * g || demBad > 0) errs += s"alignAux: ${dem.length} rows, $demBad wrong"

    // stage 1: every pixel classified as its planted class
    val pxBad = pixels.count(r => r.isNullAt(2) || r.getInt(2) != s.classAt(r.getInt(0), r.getInt(1)))
    if (pixels.length != g * g || pxBad > 0) errs += s"classifyPixels: ${pixels.length} rows, $pxBad wrong"

    // stage 2: segments are exactly the closed-form partition
    val exp = expectedSegments(s)
    val pairs = segments.map(r => (r.getLong(2), exp(lin(r)))).distinct
    val nSeg = pairs.map(_._1).distinct.length
    val nExp = exp.distinct.length
    if (segments.length != g * g || segments.map(lin).distinct.length != g * g ||
        pairs.length != nSeg || nSeg != nExp)
      errs += s"segmentTiles: ${segments.length} rows, $nSeg segments, $nExp planted, ${pairs.length} pairings"
    val segKey = pairs.toMap
    val cellsOf = segments.groupBy(_.getLong(2)).map { case (id, rs) =>
      id -> rs.map(r => (r.getInt(0), r.getInt(1))).toSet
    }
    val classOfSeg = cellsOf.map { case (id, cs) => id -> s.classAt(cs.head._1, cs.head._2) }

    // polygons: per segment, parts' cell counts, areas and perimeters
    val gotParts = measures.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.map(r => (r.getLong(1).toInt, r.getDouble(3).round.toInt)).toSeq.sorted
    }
    val areaBad = measures.count(r => r.getDouble(2) != r.getLong(1).toDouble)
    val partBad = cellsOf.count { case (id, cs) => !gotParts.get(id).contains(parts(cs)) }
    if (areaBad > 0 || partBad > 0 || gotParts.size != cellsOf.size)
      errs += s"polygons: $areaBad areas != cell counts, $partBad segments with wrong parts"

    // overlay: each training rectangle hits one segment, full area, planted label
    val byPoly = overlay.groupBy(_.getLong(1))
    val ovBad = s.trainRects.count { case (id, label, r0, c0, h, w) =>
      byPoly.get(id) match {
        case Some(Array(r)) =>
          r.getInt(2) != label || r.getDouble(3) != (h * w).toDouble ||
            !cellsOf.get(r.getLong(0)).exists(_.contains((r0, c0)))
        case _ => true
      }
    }
    if (ovBad > 0 || overlay.length != s.trainRects.length) errs += s"overlay: $ovBad rectangles wrong"

    // stage 3: every object labelled with its planted class, in the GeoParquet too
    def labelsBad(rs: Array[Row]) =
      rs.count(r => r.isNullAt(1) || !classOfSeg.get(r.getLong(0)).contains(r.getInt(1)))
    val clsBad = labelsBad(classes)
    if (classes.length != nSeg || clsBad > 0) errs += s"classifyObjects: ${classes.length} rows, $clsBad wrong"
    val geoBad = labelsBad(geo)
    if (geo.length != measures.length || geoBad > 0) errs += s"writeGeoParquet: ${geo.length} rows, $geoBad wrong"
    if (segKey.isEmpty) errs += "no segments"
    errs.toSeq
  }
}
