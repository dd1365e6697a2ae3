package graft.ops

import graft.core._
import graft.functions.Quantize9
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reprojection / resampling — the reference's warp family
  * (rioxarray/raster_array.py:198-491, kernels in rasterio.warp):
  * an inverse warp: every destination pixel centre is mapped through
  * dstCRS^-1 -> lon/lat -> srcCRS into continuous source pixel space, then
  * sampled (nearest: the source pixel containing the point, GDAL
  * truncation convention; bilinear: 2x2 neighbourhood weighted average).
  *
  * Distributed formulation: the destination grid is *generated* (no data
  * motion), the source-pixel key is computed with pure Column arithmetic
  * (all projection math unrolled into codegen-friendly builtin expressions —
  * sin/cos/atan2/sinh/asinh are all Catalyst builtins), and the sample is an
  * equi-JOIN on (src_row, src_col). Catalyst/AQE picks broadcast vs
  * sort-merge; at scale both sides can be pre-bucketed by tile/Hilbert key
  * so the join co-locates (SURVEY.md §4). Nearest needs 1 key per dst pixel,
  * bilinear 4 (generated, then pivoted back in one aggregate). */
object WarpOps {

  val D2R = 0.017453292519943295 // pi/180, literal shared with SQL oracles

  /** Forward projection lon/lat-degree Columns -> planar, as Columns. */
  def forwardColumns(to: Crs, lon: Column, lat: Column): (Column, Column) = to.proj match {
    case LongLat => (lon, lat)
    case Sinusoidal(r, lon0) =>
      (lit(r) * ((lon - lit(lon0)) * D2R) * cos(lat * D2R), lit(r) * (lat * D2R))
    case WebMercator =>
      (lit(Projection.WGS84_A) * (lon * D2R),
       lit(Projection.WGS84_A) * asinh(tan(lat * D2R)))
    case MercatorProj(a, f, k0, lon0) =>
      val e = math.sqrt(f * (2.0 - f))
      val s = sin(lat * D2R)
      val psi = asinh(tan(lat * D2R)) - lit(e) * atanh(lit(e) * s)
      (lit(a * k0) * ((lon - lit(lon0)) * D2R), lit(a * k0) * psi)
    case tm: TransverseMercator =>
      // full Karney forward series as Column arithmetic (stays in codegen)
      tmForwardColumns(tm, lon, lat)
    case p => throw new IllegalArgumentException(s"no Column forward for $p")
  }

  /** Inverse projection planar Columns -> lon/lat degrees. */
  def inverseColumns(from: Crs, x: Column, y: Column): (Column, Column) = from.proj match {
    case LongLat => (x, y)
    case Sinusoidal(r, lon0) =>
      val phi = y / lit(r)
      ((x / (lit(r) * cos(phi))) / D2R + lit(lon0), phi / lit(D2R))
    case WebMercator =>
      ((x / Projection.WGS84_A) / D2R, atan(sinh(y / Projection.WGS84_A)) / lit(D2R))
    case tm: TransverseMercator => tmInverseColumns(tm, x, y)
    case p => throw new IllegalArgumentException(s"no Column inverse for $p (use tile kernel path)")
  }

  /** Scalar twin of [[inverseColumns]] in its op order (`/ D2R`, where the
    * projections' own inverses multiply by R2D), so a point evaluated on the
    * driver lands on the same cell as the Column form, bit for bit. */
  def inverse(from: Crs, x: Double, y: Double): (Double, Double) = from.proj match {
    case LongLat => (x, y)
    case Sinusoidal(r, lon0) =>
      val phi = y / r
      ((x / (r * math.cos(phi))) / D2R + lon0, phi / D2R)
    case WebMercator =>
      ((x / Projection.WGS84_A) / D2R, math.atan(math.sinh(y / Projection.WGS84_A)) / D2R)
    case p => throw new IllegalArgumentException(s"no scalar inverse for $p")
  }

  /** Karney inverse series + fixed-point isometric-latitude inverse, unrolled
    * into Column arithmetic (same iteration count as the scalar path so the
    * two are bit-identical). */
  private def tmInverseColumns(tm: TransverseMercator, x: Column, y: Column): (Column, Column) = {
    val f = Projection.WGS84_F
    val e = math.sqrt(f * (2.0 - f))
    val n = f / (2.0 - f)
    val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n; val n5 = n4 * n; val n6 = n5 * n
    val bigA = Projection.WGS84_A / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    val beta = Array(
      n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0 - 81.0 * n5 / 512.0 + 96199.0 * n6 / 604800.0,
      n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0 + 46.0 * n5 / 105.0 - 1118711.0 * n6 / 3870720.0,
      17.0 * n3 / 480.0 - 37.0 * n4 / 840.0 - 209.0 * n5 / 4480.0 + 5569.0 * n6 / 90720.0,
      4397.0 * n4 / 161280.0 - 11.0 * n5 / 504.0 - 830251.0 * n6 / 7257600.0,
      4583.0 * n5 / 161280.0 - 108847.0 * n6 / 3991680.0,
      20648693.0 * n6 / 638668800.0)
    val xi = (y - lit(tm.falseN)) / lit(tm.k0 * bigA)
    val eta = (x - lit(tm.falseE)) / lit(tm.k0 * bigA)
    var xiP = xi; var etaP = eta
    for (j <- 1 to 6) {
      xiP = xiP - lit(beta(j - 1)) * sin(xi * (2.0 * j)) * cosh(eta * (2.0 * j))
      etaP = etaP - lit(beta(j - 1)) * cos(xi * (2.0 * j)) * sinh(eta * (2.0 * j))
    }
    val shEta = sinh(etaP)
    val cosXi = cos(xiP)
    val lam = atan2(shEta, cosXi)
    val tauP = sin(xiP) / hypot(shEta, cosXi)
    // isometric-latitude inverse, unrolled InvIterations times
    val psi = asinh(tauP)
    var sphi = tanh(psi)
    for (_ <- 1 to EllipsoidMath.InvIterations)
      sphi = tanh(psi + lit(e) * atanh(lit(e) * sphi))
    val phi = asin(greatest(lit(-1.0), least(lit(1.0), sphi)))
    (lam / lit(D2R) + lit(tm.lon0Deg), phi / lit(D2R))
  }

  private def tmForwardColumns(tm: TransverseMercator, lon: Column, lat: Column): (Column, Column) = {
    // replicate TransverseMercator.forward with Column ops
    val f = Projection.WGS84_F
    val e = math.sqrt(f * (2.0 - f))
    val n = f / (2.0 - f)
    val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n; val n5 = n4 * n; val n6 = n5 * n
    val bigA = Projection.WGS84_A / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    val alpha = Array(
      n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0 - 127.0 * n5 / 288.0 + 7891.0 * n6 / 37800.0,
      13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0 + 281.0 * n5 / 630.0 - 1983433.0 * n6 / 1935360.0,
      61.0 * n3 / 240.0 - 103.0 * n4 / 140.0 + 15061.0 * n5 / 26880.0 + 167603.0 * n6 / 181440.0,
      49561.0 * n4 / 161280.0 - 179.0 * n5 / 168.0 + 6601661.0 * n6 / 7257600.0,
      34729.0 * n5 / 80640.0 - 3418889.0 * n6 / 1995840.0,
      212378941.0 * n6 / 319334400.0)
    val lam = (lon - lit(tm.lon0Deg)) * D2R
    val phi = lat * D2R
    val sh = sinh(asinh(tan(phi)) - lit(e) * atanh(lit(e) * sin(phi)))
    val cosLam = cos(lam)
    val xiP = atan2(sh, cosLam)
    val etaP = asinh(sin(lam) / hypot(sh, cosLam))
    var xi = xiP; var eta = etaP
    for (j <- 1 to 6) {
      xi = xi + lit(alpha(j - 1)) * sin(xiP * (2.0 * j)) * cosh(etaP * (2.0 * j))
      eta = eta + lit(alpha(j - 1)) * cos(xiP * (2.0 * j)) * sinh(etaP * (2.0 * j))
    }
    (lit(tm.falseE) + lit(tm.k0 * bigA) * eta, lit(tm.falseN) + lit(tm.k0 * bigA) * xi)
  }

  /** Continuous source-pixel coordinates of each dst pixel centre:
    * (srcPx, srcPy) Columns given dst (row, col) Columns. */
  def srcPixelColumns(src: GridRef, dst: GridRef,
                      dRow: Column, dCol: Column): (Column, Column) = {
    // rectilinear keeps the 2-term forms verbatim (oracle texts are paired);
    // rotated/sheared grids take the full 6-parameter affine + its inverse
    val (dx, dy) =
      if (dst.transform.isRectilinear)
        (lit(dst.transform.a) * (dCol.cast("double") + 0.5d) + lit(dst.transform.c),
         lit(dst.transform.e) * (dRow.cast("double") + 0.5d) + lit(dst.transform.f))
      else
        (Synth.xColumnFull(dst, dCol, dRow), Synth.yColumnFull(dst, dCol, dRow))
    val (lonC, latC) = inverseColumns(dst.crs, dx, dy)
    val (sx, sy) = if (src.crs == dst.crs) (dx, dy) else forwardColumns(src.crs, lonC, latC)
    val (px, py) =
      if (src.transform.isRectilinear)
        ((sx - lit(src.transform.c)) / lit(src.transform.a),
         (sy - lit(src.transform.f)) / lit(src.transform.e))
      else {
        val inv = src.transform.invert
        (lit(inv.a) * sx + lit(inv.b) * sy + lit(inv.c),
         lit(inv.d) * sx + lit(inv.e) * sy + lit(inv.f))
      }
    // 1e-9-pixel quantization so a ULP of libm difference between engines
    // cannot flip the floor at integer boundaries (all-IEEE scaled floor,
    // identical text in the SQL oracles; see Quantize9 — VERDICT r4 #1)
    (Quantize9.column(px), Quantize9.column(py))
  }

  /** Inverse nearest sample of a source raster onto a *sub-window* of a
    * destination grid: returns (row, col, value) in dst indices, inner rows
    * only (pixels whose mapped source pixel exists). Used by merge for
    * non-aligned sources: only the dst pixels covering the source footprint
    * are generated at all. */
  def inverseSampleNearest(srcR: Raster, dst: GridRef, win: PixelWindow): DataFrame = {
    val spark = srcR.df.sparkSession
    val src = srcR.grid
    val n = win.width.toLong * win.height
    val dstPx = spark.range(n).select(
      (expr(s"id div ${win.width}") + win.rowStart).as("row"),
      (col("id") % win.width + win.colStart).as("col"))
    val (px, py) = srcPixelColumns(src, dst, col("row"), col("col"))
    val keyed = dstPx
      .withColumn("src_col", floor(px))
      .withColumn("src_row", floor(py))
    val srcDf = srcR.df.select(col("row").as("s_row"), col("col").as("s_col"),
                               col("value").cast("long").as("s_value"))
    keyed.join(srcDf,
        keyed("src_row") === srcDf("s_row") && keyed("src_col") === srcDf("s_col"))
      .select(col("row"), col("col"), col("s_value").as("value"))
  }

  /** DuckDB mirror of [[inverseSampleNearest]] for same-CRS rectilinear
    * grids (merge's non-aligned-source resample read): generates the dst
    * sub-window, keys each pixel by the rounded inverse mapping, inner-joins
    * the source. Output: dst-indexed (row, col, value), inner rows only. */
  def inverseSampleNearestSql(src: GridRef, dst: GridRef, win: PixelWindow,
                              srcSql: String): String = {
    require(src.crs == dst.crs && src.transform.isRectilinear && dst.transform.isRectilinear,
      "inverseSampleNearestSql mirrors the same-CRS rectilinear path")
    val t = dst.transform; val s = src.transform
    val dxE = s"${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}"
    val dyE = s"${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}"
    val pxE = Quantize9.sql(s"(($dxE) - ${s.c}) / ${s.a}")
    val pyE = Quantize9.sql(s"(($dyE) - ${s.f}) / ${s.e}")
    s"""SELECT k.row, k.col, sv.value FROM (
       |  SELECT row, col,
       |    CAST(FLOOR($pxE) AS BIGINT) AS src_col,
       |    CAST(FLOOR($pyE) AS BIGINT) AS src_row
       |  FROM (SELECT CAST(${win.rowStart} + i // ${win.width} AS BIGINT) AS row,
       |               CAST(${win.colStart} + i % ${win.width} AS BIGINT) AS col
       |        FROM generate_series(0, ${win.width.toLong * win.height - 1}) g(i)) w) k
       |JOIN ($srcSql) sv ON k.src_row = sv.row AND k.src_col = sv.col""".stripMargin
  }

  /** Full reproject entrypoint mirroring the reference's kwargs surface
    * (raster_array.py:198-309): destination from `transform`(+`shape`) or
    * from calculate_default_transform with optional `resolution` XOR
    * `shape`; the resolution-with-shape/transform combination is an error
    * exactly as in the reference (raster_array.py:260-261). */
  def reproject(srcR: Raster, dstCrs: Crs,
                resolution: Option[(Double, Double)] = None,
                shape: Option[(Int, Int)] = None,
                transform: Option[Affine] = None,
                resampling: String = "nearest"): Raster = {
    require(!(resolution.isDefined && (shape.isDefined || transform.isDefined)),
      "resolution cannot be used with shape or transform.") // raster_array.py:260-261
    val dst = transform match {
      case Some(t) =>
        val (h, w) = shape.getOrElse((srcR.grid.height, srcR.grid.width))
        GridRef(dstCrs, t, w, h, srcR.grid.nodata)
      case None => GridRef.suggestedWarpOutput(srcR.grid, dstCrs, resolution, shape)
    }
    resampling match {
      case "nearest" => reprojectNearest(srcR, dst)
      case "bilinear" => reprojectBilinear(srcR, dst)
      case "cubic" => reprojectCubic(srcR, dst)
      case m => throw new IllegalArgumentException(s"unsupported resampling: $m")
    }
  }

  /** Nearest-neighbour inverse warp onto an explicit destination grid
    * (reproject / reproject_match with resampling="nearest"). */
  def reprojectNearest(srcR: Raster, dst: GridRef): Raster = {
    val spark = srcR.df.sparkSession
    val src = srcR.grid
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val (px, py) = srcPixelColumns(src, dst, col("row"), col("col"))
    val keyed = dstPx
      .withColumn("src_col", floor(px))
      .withColumn("src_row", floor(py))
    val srcDf = srcR.df.select(col("row").as("s_row"), col("col").as("s_col"),
                               col("value").as("s_value"))
    val nodata = lit(dst.nodata.toLong)
    val (xOut, yOut) =
      if (dst.transform.isRectilinear)
        (Synth.xColumn(dst, col("col")), Synth.yColumn(dst, col("row")))
      else // 2D coordinate arrays (xc/yc) of a rotated destination
        (Synth.xColumnFull(dst, col("col"), col("row")),
         Synth.yColumnFull(dst, col("col"), col("row")))
    val joined = keyed.join(srcDf,
        keyed("src_row") === srcDf("s_row") && keyed("src_col") === srcDf("s_col"), "left")
      .select(col("row"), col("col"), xOut.as("x"), yOut.as("y"),
        coalesce(col("s_value"), nodata).as("value"))
    Raster(joined, dst)
  }

  /** Dataset (multi-variable) reproject — the reference's RasterDataset
    * per-variable loop (raster_dataset.py:59-142). The per-pixel key math is
    * variable-independent, so the loop disappears into the join key:
    * var_name rides the generated destination (one explode over a literal
    * list) and joins alongside (src_row, src_col) — ONE shuffle for any
    * number of variables, exactly like MergeOps.mergeDatasets. */
  def reprojectDatasetNearest(ds: DataFrame, varNames: Seq[String],
                              src: GridRef, dst: GridRef): DataFrame = {
    val spark = ds.sparkSession
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
      .select(col("*"), explode(array(varNames.map(lit): _*)).as("var_name"))
    val (px, py) = srcPixelColumns(src, dst, col("row"), col("col"))
    val keyed = dstPx
      .withColumn("src_col", floor(px))
      .withColumn("src_row", floor(py))
    val srcDf = ds.select(col("var_name").as("s_var"), col("row").as("s_row"),
                          col("col").as("s_col"), col("value").as("s_value"))
    keyed.join(srcDf,
        keyed("var_name") === srcDf("s_var") &&
        keyed("src_row") === srcDf("s_row") && keyed("src_col") === srcDf("s_col"), "left")
      .select(col("var_name"), col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"),
        coalesce(col("s_value"), lit(dst.nodata.toLong)).as("value"))
  }

  /** DuckDB mirror of [[reprojectDatasetNearest]] for the sinusoidal->longlat
    * fixture; `varSrcs` = (var_name, per-variable source SQL). */
  def nearestSinuDatasetSql(src: GridRef, dst: GridRef,
                            varSrcs: Seq[(String, String)]): String = {
    val (r, lon0) = src.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle needs sinusoidal src, got $p")
    }
    val t = dst.transform; val s = src.transform
    val lonE = s"${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}"
    val latE = s"${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}"
    val sxE = s"$r * ((($lonE) - $lon0) * $D2R) * COS(($latE) * $D2R)"
    val syE = s"$r * (($latE) * $D2R)"
    val pxE = Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}")
    val pyE = Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}")
    val union = varSrcs.map { case (v, sql) =>
      s"SELECT '$v' AS var_name, row, col, value FROM ($sql)"
    }.mkString("\nUNION ALL\n")
    val vars = varSrcs.map(v => s"('${v._1}')").mkString(", ")
    s"""WITH dstpx AS (
       |  SELECT v.var_name, CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i),
       |       (VALUES $vars) v(var_name)),
       |keyed AS (
       |  SELECT var_name, row, col,
       |    CAST(FLOOR($pxE) AS BIGINT) AS src_col,
       |    CAST(FLOOR($pyE) AS BIGINT) AS src_row
       |  FROM dstpx),
       |src AS ($union)
       |SELECT k.var_name, k.row, k.col,
       |  ${t.a}*(CAST(k.col AS DOUBLE) + 0.5) + ${t.c} AS x,
       |  ${t.e}*(CAST(k.row AS DOUBLE) + 0.5) + ${t.f} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s
       |  ON k.var_name = s.var_name AND k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.var_name, k.row, k.col""".stripMargin
  }

  /** SQL oracle for reprojectNearest when dst CRS is longlat and src is the
    * spherical sinusoidal synthetic grid (identical arithmetic, textually). */
  def nearestSinuFromLonLatSql(src: GridRef, dst: GridRef, srcSql: String): String = {
    val (r, lon0) = src.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle needs sinusoidal src, got $p")
    }
    val t = dst.transform; val s = src.transform
    val lonE = s"${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}"
    val latE = s"${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}"
    val sxE = s"$r * ((($lonE) - $lon0) * $D2R) * COS(($latE) * $D2R)"
    val syE = s"$r * (($latE) * $D2R)"
    val pxE = Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}")
    val pyE = Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}")
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR($pxE) AS BIGINT) AS src_col,
       |    CAST(FLOOR($pyE) AS BIGINT) AS src_row
       |  FROM dstpx),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${t.a}*(CAST(k.col AS DOUBLE) + 0.5) + ${t.c} AS x,
       |  ${t.e}*(CAST(k.row AS DOUBLE) + 0.5) + ${t.f} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** SQL oracle for reproject_match: sinusoidal source sampled onto a
    * transverse-Mercator destination. The Karney inverse series + the
    * isometric-latitude fixed point unroll into plain SQL; DuckDB has no
    * hyperbolic builtins, so sinh/cosh/tanh/asinh/atanh are written in their
    * EXP/LN forms. The composites differ from the JVM natives by a few ulp,
    * which the quantize9 key guard absorbs (a floor flip needs the true
    * pixel coordinate within ~1e-11 of an integer — measure ~1e-7 over the
    * whole grid). The 8 fixed-point iterations are staged as CTE columns
    * (inline nesting would double the text per iteration). */
  def nearestSinuFromTmSql(src: GridRef, dst: GridRef, srcSql: String): String = {
    val tm = dst.crs.proj match {
      case t: TransverseMercator => t
      case p => throw new IllegalArgumentException(s"oracle needs TM dst, got $p")
    }
    val (r, sLon0) = src.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle needs sinusoidal src, got $p")
    }
    val f = tm.flat
    val e = math.sqrt(f * (2.0 - f))
    val n = f / (2.0 - f)
    val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n; val n5 = n4 * n; val n6 = n5 * n
    val bigA = tm.aAxis / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    val beta = Array(
      n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0 - 81.0 * n5 / 512.0 + 96199.0 * n6 / 604800.0,
      n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0 + 46.0 * n5 / 105.0 - 1118711.0 * n6 / 3870720.0,
      17.0 * n3 / 480.0 - 37.0 * n4 / 840.0 - 209.0 * n5 / 4480.0 + 5569.0 * n6 / 90720.0,
      4397.0 * n4 / 161280.0 - 11.0 * n5 / 504.0 - 830251.0 * n6 / 7257600.0,
      4583.0 * n5 / 161280.0 - 108847.0 * n6 / 3991680.0,
      20648693.0 * n6 / 638668800.0)
    val k0A = tm.k0 * bigA
    // EXP/LN hyperbolics
    def sh(x: String) = s"((EXP($x) - EXP(-($x))) / 2.0)"
    def ch(x: String) = s"((EXP($x) + EXP(-($x))) / 2.0)"
    def th(x: String) = s"((EXP(2.0*($x)) - 1.0) / (EXP(2.0*($x)) + 1.0))"
    def ash(x: String) = s"LN(($x) + SQRT(($x)*($x) + 1.0))"
    def ath(x: String) = s"(0.5 * LN((1.0 + ($x)) / (1.0 - ($x))))"
    val t = dst.transform; val s = src.transform
    val corrXi = (1 to 6).map { j =>
      s"- ${beta(j - 1)} * SIN(${2.0 * j} * xi) * ${ch(s"${2.0 * j} * eta")}"
    }.mkString(" ")
    val corrEta = (1 to 6).map { j =>
      s"- ${beta(j - 1)} * COS(${2.0 * j} * xi) * ${sh(s"${2.0 * j} * eta")}"
    }.mkString(" ")
    val fpStages = (1 to EllipsoidMath.InvIterations).map { k =>
      s"s$k AS (SELECT *, ${th(s"psi + $e * ${ath(s"$e * sphi${k - 1}")}")} AS sphi$k FROM s${k - 1})"
    }.mkString(",\n")
    val sphiN = s"sphi${EllipsoidMath.InvIterations}"
    val sxE = s"$r * (((lon) - $sLon0) * $D2R) * COS((lat) * $D2R)"
    val syE = s"$r * ((lat) * $D2R)"
    val pxE = Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}")
    val pyE = Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}")
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |pl AS (SELECT row, col,
       |    ((${dlit(t.a)}*(CAST(col AS DOUBLE) + 0.5) + ${dlit(t.c)}) - ${tm.falseE}) / $k0A AS eta,
       |    ((${dlit(t.e)}*(CAST(row AS DOUBLE) + 0.5) + ${dlit(t.f)}) - ${tm.falseN}) / $k0A AS xi
       |  FROM dstpx),
       |corr AS (SELECT *, xi $corrXi AS xip, eta $corrEta AS etap FROM pl),
       |tri AS (SELECT *, ${sh("etap")} AS sheta, COS(xip) AS cosxi FROM corr),
       |lam0 AS (SELECT *, ATAN2(sheta, cosxi) AS lam,
       |    SIN(xip) / SQRT(sheta*sheta + cosxi*cosxi) AS taup FROM tri),
       |s0 AS (SELECT *, ${ash("taup")} AS psi, ${th(ash("taup"))} AS sphi0 FROM lam0),
       |$fpStages,
       |ll AS (SELECT row, col,
       |    lam / $D2R + ${tm.lon0Deg} AS lon,
       |    ASIN(GREATEST(-1.0, LEAST(1.0, $sphiN))) / $D2R AS lat
       |  FROM s${EllipsoidMath.InvIterations}),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR($pxE) AS BIGINT) AS src_col,
       |    CAST(FLOOR($pyE) AS BIGINT) AS src_row
       |  FROM ll),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dlit(t.a)}*(CAST(k.col AS DOUBLE) + 0.5) + ${dlit(t.c)} AS x,
       |  ${dlit(t.e)}*(CAST(k.row AS DOUBLE) + 0.5) + ${dlit(t.f)} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** SQL oracle for same-CRS nearest warps between arbitrary (incl. rotated/
    * sheared) affines — reproject_match between a rotated and a squared grid
    * (reference test_reproject_match__rotated,
    * test_integration_rioxarray.py:838-889). Pure linear algebra: dst pixel
    * centre through the dst affine, back through the src inverse affine. */
  def nearestAffineSql(src: GridRef, dst: GridRef, srcSql: String): String = {
    require(src.crs == dst.crs, "nearestAffineSql is the same-CRS (affine-only) oracle")
    val t = dst.transform
    def dstXE(colE: String, rowE: String) =
      if (t.isRectilinear) s"${t.a}*(CAST($colE AS DOUBLE) + 0.5) + ${t.c}"
      else Synth.xSqlFull(dst, colE, rowE)
    def dstYE(colE: String, rowE: String) =
      if (t.isRectilinear) s"${t.e}*(CAST($rowE AS DOUBLE) + 0.5) + ${t.f}"
      else Synth.ySqlFull(dst, colE, rowE)
    val sxE = dstXE("col", "row"); val syE = dstYE("col", "row")
    val s = src.transform
    val (pxE, pyE) =
      if (s.isRectilinear)
        (Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}"), Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}"))
      else {
        val inv = s.invert
        (Quantize9.sql(s"${inv.a} * ($sxE) + ${inv.b} * ($syE) + ${inv.c}"),
         Quantize9.sql(s"${inv.d} * ($sxE) + ${inv.e} * ($syE) + ${inv.f}"))
      }
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR($pxE) AS BIGINT) AS src_col,
       |    CAST(FLOOR($pyE) AS BIGINT) AS src_row
       |  FROM dstpx),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dstXE("k.col", "k.row")} AS x,
       |  ${dstYE("k.col", "k.row")} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** Keys cubic-convolution weight (a = -0.5, the GDAL/rasterio "cubic"
    * kernel) for neighbour offset -1/0/1/2 given fraction t, as Column
    * arithmetic (Horner form; [[cubicWSql]] is the textual mirror). */
  private val CubicA = -0.5
  private def cubicW(t: Column, off: Int): Column = off match {
    case -1 => ((lit(CubicA) * (t + 1.0d) - lit(5.0 * CubicA)) * (t + 1.0d) + lit(8.0 * CubicA)) * (t + 1.0d) - lit(4.0 * CubicA)
    case 0  => ((lit(CubicA + 2.0) * t - lit(CubicA + 3.0)) * t) * t + lit(1.0d)
    case 1  => ((lit(CubicA + 2.0) * (lit(1.0d) - t) - lit(CubicA + 3.0)) * (lit(1.0d) - t)) * (lit(1.0d) - t) + lit(1.0d)
    case 2  => ((lit(CubicA) * (lit(2.0d) - t) - lit(5.0 * CubicA)) * (lit(2.0d) - t) + lit(8.0 * CubicA)) * (lit(2.0d) - t) - lit(4.0 * CubicA)
  }
  /** Scalar sibling of [[cubicW]] with identical literal values and op
    * order (used by the tile-native cubic kernel for bit-identity). */
  def cubicWeightScalar(t: Double, off: Int): Double = off match {
    case -1 => ((CubicA * (t + 1.0) - 5.0 * CubicA) * (t + 1.0) + 8.0 * CubicA) * (t + 1.0) - 4.0 * CubicA
    case 0  => (((CubicA + 2.0) * t - (CubicA + 3.0)) * t) * t + 1.0
    case 1  => (((CubicA + 2.0) * (1.0 - t) - (CubicA + 3.0)) * (1.0 - t)) * (1.0 - t) + 1.0
    case 2  => ((CubicA * (2.0 - t) - 5.0 * CubicA) * (2.0 - t) + 8.0 * CubicA) * (2.0 - t) - 4.0 * CubicA
  }

  private def cubicWSql(tE: String, off: Int): String = off match {
    case -1 => s"((($CubicA * (($tE) + 1.0) - ${5.0 * CubicA}) * (($tE) + 1.0) + ${8.0 * CubicA}) * (($tE) + 1.0) - ${4.0 * CubicA})"
    case 0  => s"(((${CubicA + 2.0} * ($tE) - ${CubicA + 3.0}) * ($tE)) * ($tE) + 1.0)"
    case 1  => s"(((${CubicA + 2.0} * (1.0 - ($tE)) - ${CubicA + 3.0}) * (1.0 - ($tE))) * (1.0 - ($tE)) + 1.0)"
    case 2  => s"((($CubicA * (2.0 - ($tE)) - ${5.0 * CubicA}) * (2.0 - ($tE)) + ${8.0 * CubicA}) * (2.0 - ($tE)) - ${4.0 * CubicA})"
  }

  /** B-spline smoothing weights of GDAL's Resampling.cubic_spline
    * (gdalwarpkernel BSpline basis — a LOCAL 4x4 approximation kernel, not
    * an interpolating spline, so there is no global IIR prefilter): with
    * t in [0,1) the tap distances are (t+1, t, 1-t, 2-t) and
    *   B(x) = (4 - 6x² + 3x³)/6   for x < 1
    *   B(x) = (2-x)³/6            for 1 <= x < 2
    * which collapses per tap to the forms below. Column / scalar / SQL in
    * lockstep (same literals, same associativity). Partition of unity:
    * the four weights sum to exactly 1 for every t. */
  private def cubicSplineW(t: Column, off: Int): Column = off match {
    case -1 => ((lit(1.0d) - t) * (lit(1.0d) - t) * (lit(1.0d) - t)) / 6.0d
    case 0  => (lit(4.0d) - lit(6.0d) * t * t + lit(3.0d) * t * t * t) / 6.0d
    case 1  => (lit(4.0d) - lit(6.0d) * (lit(1.0d) - t) * (lit(1.0d) - t) +
                lit(3.0d) * (lit(1.0d) - t) * (lit(1.0d) - t) * (lit(1.0d) - t)) / 6.0d
    case 2  => (t * t * t) / 6.0d
  }
  def cubicSplineWeightScalar(t: Double, off: Int): Double = off match {
    case -1 => ((1.0 - t) * (1.0 - t) * (1.0 - t)) / 6.0
    case 0  => (4.0 - 6.0 * t * t + 3.0 * t * t * t) / 6.0
    case 1  => (4.0 - 6.0 * (1.0 - t) * (1.0 - t) +
                3.0 * (1.0 - t) * (1.0 - t) * (1.0 - t)) / 6.0
    case 2  => (t * t * t) / 6.0
  }
  private def cubicSplineWSql(tE: String, off: Int): String = off match {
    case -1 => s"(((1.0 - ($tE)) * (1.0 - ($tE)) * (1.0 - ($tE))) / 6.0)"
    case 0  => s"((4.0 - 6.0 * ($tE) * ($tE) + 3.0 * ($tE) * ($tE) * ($tE)) / 6.0)"
    case 1  => s"((4.0 - 6.0 * (1.0 - ($tE)) * (1.0 - ($tE)) + 3.0 * (1.0 - ($tE)) * (1.0 - ($tE)) * (1.0 - ($tE))) / 6.0)"
    case 2  => s"((($tE) * ($tE) * ($tE)) / 6.0)"
  }

  /** Cubic inverse warp: 4x4 neighbourhood, Keys convolution (the
    * reference's Resampling.cubic, _spatial_utils.py:307-323 ->
    * rasterio.warp). Same shape as bilinear: 16-way key explode + one pivot
    * aggregate; any missing/nodata neighbour -> nodata (edge rows where
    * GDAL would clamp are nodata here — mirrored by the oracle). */
  def reprojectCubic(srcR: Raster, dst: GridRef): Raster =
    reprojectKernel4(srcR, dst, cubicW)

  /** Resampling.cubic_spline — same 4x4 gather, B-spline smoothing weights
    * (previously excluded on the mistaken premise that GDAL's cubicspline
    * needs a global spline prefilter; it is the local B-spline
    * approximation kernel above, fully separable and distributable). */
  def reprojectCubicSpline(srcR: Raster, dst: GridRef): Raster =
    reprojectKernel4(srcR, dst, cubicSplineW)

  private def reprojectKernel4(srcR: Raster, dst: GridRef,
                               w: (Column, Int) => Column): Raster = {
    val spark = srcR.df.sparkSession
    val src = srcR.grid
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val (px, py) = srcPixelColumns(src, dst, col("row"), col("col"))
    val fx = px - 0.5d; val fy = py - 0.5d
    val keyed = dstPx
      .withColumn("c0", floor(fx)).withColumn("r0", floor(fy))
      .withColumn("tx", fx - floor(fx)).withColumn("ty", fy - floor(fy))
    val offs = for (dr <- -1 to 2; dc <- -1 to 2) yield (dr, dc)
    val exploded = keyed.select(col("*"),
        explode(array(offs.map { case (dr, dc) =>
          struct(lit(dr).as("dr"), lit(dc).as("dc")) }: _*)).as("n"))
      .select(col("row"), col("col"), col("tx"), col("ty"),
        (col("r0") + col("n.dr")).as("s_row"), (col("c0") + col("n.dc")).as("s_col"),
        col("n.dr").as("dr"), col("n.dc").as("dc"))
    val srcDf = srcR.df.select(col("row").as("j_row"), col("col").as("j_col"),
                               col("value").as("s_value"))
    val joined = exploded.join(srcDf,
        exploded("s_row") === srcDf("j_row") && exploded("s_col") === srcDf("j_col"), "left")
    val vCols = offs.map { case (dr, dc) =>
      max(when(col("dr") === dr && col("dc") === dc, col("s_value"))).as(s"v${dr + 1}${dc + 1}")
    }
    val gathered = joined.groupBy("row", "col", "tx", "ty").agg(vCols.head, vCols.tail: _*)
    val nodata = dst.nodata
    val anyBad = offs.map { case (dr, dc) =>
      col(s"v${dr + 1}${dc + 1}").isNull || col(s"v${dr + 1}${dc + 1}") === nodata.toLong
    }.reduce(_ || _)
    val interp = (-1 to 2).map { dr =>
      w(col("ty"), dr) * (-1 to 2).map { dc =>
        w(col("tx"), dc) * col(s"v${dr + 1}${dc + 1}")
      }.reduce(_ + _)
    }.reduce(_ + _)
    val out = gathered.select(col("row"), col("col"),
      Synth.xColumn(dst, col("col")).as("x"),
      Synth.yColumn(dst, col("row")).as("y"),
      when(anyBad, lit(nodata)).otherwise(interp).as("value"))
    Raster(out, dst)
  }

  /** SQL oracle for reprojectCubic, sinu src -> longlat dst (16 left joins,
    * weight arithmetic textually mirrored from [[cubicW]]). */
  def cubicSinuFromLonLatSql(src: GridRef, dst: GridRef, srcSql: String): String =
    kernel4SinuFromLonLatSql(src, dst, srcSql, cubicWSql)

  /** SQL oracle for reprojectCubicSpline (B-spline weights, same frame). */
  def cubicSplineSinuFromLonLatSql(src: GridRef, dst: GridRef, srcSql: String): String =
    kernel4SinuFromLonLatSql(src, dst, srcSql, cubicSplineWSql)

  private def kernel4SinuFromLonLatSql(src: GridRef, dst: GridRef, srcSql: String,
                                       wSql: (String, Int) => String): String = {
    val (r, lon0) = src.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle needs sinusoidal src, got $p")
    }
    val t = dst.transform; val s = src.transform
    val lonE = s"${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}"
    val latE = s"${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}"
    val sxE = s"$r * ((($lonE) - $lon0) * $D2R) * COS(($latE) * $D2R)"
    val syE = s"$r * (($latE) * $D2R)"
    val fxE = Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}") + " - 0.5"
    val fyE = Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}") + " - 0.5"
    val nod = dst.nodata.toLong
    val offs = for (dr <- -1 to 2; dc <- -1 to 2) yield (dr, dc)
    val joins = offs.map { case (dr, dc) =>
      val a = s"s${dr + 1}${dc + 1}"
      s"LEFT JOIN src $a ON k.r0 + $dr = $a.row AND k.c0 + $dc = $a.col"
    }.mkString("\n")
    val bad = offs.map { case (dr, dc) =>
      val a = s"s${dr + 1}${dc + 1}"
      s"$a.value IS NULL OR $a.value = $nod"
    }.mkString("\n         OR ")
    val interp = (-1 to 2).map { dr =>
      val rowTerm = (-1 to 2).map { dc =>
        s"${wSql("k.tx", dc)} * s${dr + 1}${dc + 1}.value"
      }.mkString(" + ")
      s"${wSql("k.ty", dr)} * ($rowTerm)"
    }.mkString("\n            + ")
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |frac AS (SELECT row, col, $fxE AS fx, $fyE AS fy FROM dstpx),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR(fx) AS BIGINT) AS c0, CAST(FLOOR(fy) AS BIGINT) AS r0,
       |    fx - FLOOR(fx) AS tx, fy - FLOOR(fy) AS ty
       |  FROM frac),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${t.a}*(CAST(k.col AS DOUBLE) + 0.5) + ${t.c} AS x,
       |  ${t.e}*(CAST(k.row AS DOUBLE) + 0.5) + ${t.f} AS y,
       |  CASE WHEN $bad
       |       THEN CAST($nod AS DOUBLE)
       |       ELSE $interp END AS value
       |FROM keyed k
       |$joins
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** SQL oracle for reprojectBilinear when dst is longlat and src is the
    * spherical sinusoidal grid (mirrors [[reprojectBilinear]] term-for-term:
    * wx/wy derive from the quantize9-stabilized continuous pixel coords via
    * exact IEEE ops, so both engines interpolate bit-identically). */
  def bilinearSinuFromLonLatSql(src: GridRef, dst: GridRef, srcSql: String): String = {
    val (r, lon0) = src.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle needs sinusoidal src, got $p")
    }
    val t = dst.transform; val s = src.transform
    val lonE = s"${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}"
    val latE = s"${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}"
    val sxE = s"$r * ((($lonE) - $lon0) * $D2R) * COS(($latE) * $D2R)"
    val syE = s"$r * (($latE) * $D2R)"
    val fxE = Quantize9.sql(s"(($sxE) - ${s.c}) / ${s.a}") + " - 0.5"
    val fyE = Quantize9.sql(s"(($syE) - ${s.f}) / ${s.e}") + " - 0.5"
    val nod = dst.nodata.toLong
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |frac AS (SELECT row, col, $fxE AS fx, $fyE AS fy FROM dstpx),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR(fx) AS BIGINT) AS c0, CAST(FLOOR(fy) AS BIGINT) AS r0,
       |    fx - FLOOR(fx) AS wx, fy - FLOOR(fy) AS wy
       |  FROM frac),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${t.a}*(CAST(k.col AS DOUBLE) + 0.5) + ${t.c} AS x,
       |  ${t.e}*(CAST(k.row AS DOUBLE) + 0.5) + ${t.f} AS y,
       |  CASE WHEN s00.value IS NULL OR s01.value IS NULL
       |         OR s10.value IS NULL OR s11.value IS NULL
       |         OR s00.value = $nod OR s01.value = $nod
       |         OR s10.value = $nod OR s11.value = $nod
       |       THEN CAST($nod AS DOUBLE)
       |       ELSE (1.0 - k.wy) * ((1.0 - k.wx) * s00.value + k.wx * s01.value)
       |            + k.wy * ((1.0 - k.wx) * s10.value + k.wx * s11.value) END AS value
       |FROM keyed k
       |LEFT JOIN src s00 ON k.r0 = s00.row AND k.c0 = s00.col
       |LEFT JOIN src s01 ON k.r0 = s01.row AND k.c0 + 1 = s01.col
       |LEFT JOIN src s10 ON k.r0 + 1 = s10.row AND k.c0 = s10.col
       |LEFT JOIN src s11 ON k.r0 + 1 = s11.row AND k.c0 + 1 = s11.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** Integer-factor block average (the "average" resampling kernel on a
    * downsample): out(R,C) = avg of non-nodata values in the kxk block.
    * Pure groupBy with map-side partial agg; exact arithmetic
    * (sum of longs / count, single final division). */
  def resampleAverage(r: Raster, factor: Int): Raster = {
    val g = r.grid
    val outW = g.width / factor; val outH = g.height / factor
    val dst = GridRef(g.crs,
      g.transform.compose(Affine.scale(factor.toDouble, factor.toDouble)),
      outW, outH, g.nodata)
    val nodata = g.nodata.toLong
    val df = r.df
      .filter(col("row") < outH.toLong * factor && col("col") < outW.toLong * factor)
      .groupBy(expr(s"row div $factor").as("row"), expr(s"col div $factor").as("col"))
      .agg(
        sum(when(col("value") =!= nodata, col("value"))).as("vsum"),
        count(when(col("value") =!= nodata, 1)).as("vcnt"))
      .select(col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"),
        when(col("vcnt") > 0, col("vsum").cast("double") / col("vcnt"))
          .otherwise(lit(g.nodata)).as("value"))
    Raster(df, dst)
  }

  def resampleAverageSql(src: GridRef, factor: Int, srcSql: String): String = {
    val outW = src.width / factor; val outH = src.height / factor
    val dstT = src.transform.compose(Affine.scale(factor.toDouble, factor.toDouble))
    val nodata = src.nodata.toLong
    s"""WITH src AS ($srcSql)
       |SELECT row // $factor AS row, col // $factor AS col,
       |  ${dstT.a}*(CAST(col // $factor AS DOUBLE) + 0.5) + ${dstT.c} AS x,
       |  ${dstT.e}*(CAST(row // $factor AS DOUBLE) + 0.5) + ${dstT.f} AS y,
       |  CASE WHEN count(CASE WHEN value <> $nodata THEN 1 END) > 0
       |       THEN CAST(sum(CASE WHEN value <> $nodata THEN value END) AS DOUBLE)
       |            / count(CASE WHEN value <> $nodata THEN 1 END)
       |       ELSE CAST($nodata AS DOUBLE) END AS value
       |FROM src
       |WHERE row < ${outH.toLong * factor} AND col < ${outW.toLong * factor}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Lanczos (a=3) integer-factor upsample — the sin-windowed-sinc member of
    * the resampling enum (_spatial_utils.py:307-323 dispatch). The key
    * insight that makes it oracle-gateable: at an integer factor the
    * fractional source phase takes only `factor` distinct values, so the
    * 6-tap kernel weights form a finite set computed once on the driver
    * (java.lang.Math.sin) and embedded as *literals* in both engines — no
    * libm-in-SQL ulp risk. Per dst pixel: 36-tap gather (same explode +
    * single pivot aggregate shape as cubic); any tap missing or nodata →
    * nodata (the engine's uniform partial-support rule, as in bilinear/
    * cubic). Weights are pre-normalized per phase. */
  def lanczosPhases(factor: Int, a: Int = 3): Seq[(Long, Seq[Double])] =
    (0 until factor).map { p =>
      val u = (p + 0.5) / factor - 0.5
      val base = math.floor(u); val frac = u - base
      def sinc(x: Double) = if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)
      val raw = (-a + 1 to a).map { m =>
        val d = m - frac
        if (math.abs(d) < a) sinc(d) * sinc(d / a) else 0.0
      }
      val ws = raw.sum
      (base.toLong, raw.map(_ / ws))
    }

  def upsampleLanczos(r: Raster, factor: Int): Raster = {
    val g = r.grid
    val a = 3
    val dst = GridRef(g.crs,
      g.transform.compose(Affine.scale(1.0 / factor, 1.0 / factor)),
      g.width * factor, g.height * factor, g.nodata)
    val spark = r.df.sparkSession
    val phases = lanczosPhases(factor, a)
    def phaseCase(phase: Column, f: Int => Column): Column =
      phases.indices.tail.foldLeft(f(0)) { (acc, p) =>
        when(phase === p, f(p)).otherwise(acc)
      }
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val phR = col("row") % factor; val phC = col("col") % factor
    val keyed = dstPx
      .withColumn("r0", expr(s"row div $factor") + phaseCase(phR, p => lit(phases(p)._1)))
      .withColumn("c0", expr(s"col div $factor") + phaseCase(phC, p => lit(phases(p)._1)))
    val taps = (-a + 1 to a)
    val offs = for (mi <- taps; mj <- taps) yield (mi, mj)
    // r6 note: a 36-chained-broadcast-join gather (removing this explode +
    // pivot-aggregate's shuffle entirely) was prototyped and MEASURED SLOWER
    // (0.89 s -> 1.36 s min-of-3 at sf0.1): per-execution planning of 36
    // joins costs more than the one small exchange it saves. The explode +
    // single pivot aggregate stays (guide §1.2: empirical loop beats the
    // first-principles ideal here).
    val exploded = keyed.select(col("*"),
        explode(array(offs.map { case (mi, mj) =>
          struct(lit(mi).as("dr"), lit(mj).as("dc")) }: _*)).as("n"))
      .select(col("row"), col("col"),
        (col("r0") + col("n.dr")).as("s_row"), (col("c0") + col("n.dc")).as("s_col"),
        col("n.dr").as("dr"), col("n.dc").as("dc"))
    val srcDf = r.df.select(col("row").as("j_row"), col("col").as("j_col"),
                            col("value").as("s_value"))
    val joined = exploded.join(srcDf,
        exploded("s_row") === srcDf("j_row") && exploded("s_col") === srcDf("j_col"), "left")
    val vCols = offs.map { case (mi, mj) =>
      max(when(col("dr") === mi && col("dc") === mj, col("s_value"))).as(s"v${mi + a}${mj + a}")
    }
    val gathered = joined.groupBy("row", "col").agg(vCols.head, vCols.tail: _*)
    val nod = dst.nodata
    val anyBad = offs.map { case (mi, mj) =>
      col(s"v${mi + a}${mj + a}").isNull || col(s"v${mi + a}${mj + a}") === nod.toLong
    }.reduce(_ || _)
    val phROut = col("row") % factor; val phCOut = col("col") % factor
    val interp = taps.zipWithIndex.map { case (mi, i) =>
      phaseCase(phROut, p => lit(phases(p)._2(i))) *
        taps.zipWithIndex.map { case (mj, j) =>
          phaseCase(phCOut, p => lit(phases(p)._2(j))) * col(s"v${mi + a}${mj + a}")
        }.reduce(_ + _)
    }.reduce(_ + _)
    val out = gathered.select(col("row"), col("col"),
      Synth.xColumn(dst, col("col")).as("x"),
      Synth.yColumn(dst, col("row")).as("y"),
      when(anyBad, lit(nod)).otherwise(interp).as("value"))
    Raster(out, dst)
  }

  /** DuckDB mirror of [[upsampleLanczos]] — literal phase weights through
    * [[dlit]] (string-cast doubles), identical CASE/summation order. */
  def upsampleLanczosSql(src: GridRef, factor: Int, srcSql: String): String = {
    val a = 3
    val dstT = src.transform.compose(Affine.scale(1.0 / factor, 1.0 / factor))
    val dstW = src.width.toLong * factor; val dstH = src.height.toLong * factor
    val phases = lanczosPhases(factor, a)
    def phaseCaseSql(phaseE: String, f: Int => String): String =
      s"CASE $phaseE " +
        phases.indices.map(p => s"WHEN $p THEN ${f(p)}").mkString(" ") + " END"
    val taps = (-a + 1 to a)
    val offs = for (mi <- taps; mj <- taps) yield (mi, mj)
    val joins = offs.map { case (mi, mj) =>
      val al = s"s${mi + a}${mj + a}"
      s"LEFT JOIN src $al ON k.r0 + $mi = $al.row AND k.c0 + $mj = $al.col"
    }.mkString("\n")
    val nod = src.nodata.toLong
    val bad = offs.map { case (mi, mj) =>
      val al = s"s${mi + a}${mj + a}"
      s"$al.value IS NULL OR $al.value = $nod"
    }.mkString("\n         OR ")
    val interp = taps.zipWithIndex.map { case (mi, i) =>
      val rowTerm = taps.zipWithIndex.map { case (mj, j) =>
        s"${phaseCaseSql("k.col % " + factor, p => dlit(phases(p)._2(j)))} * s${mi + a}${mj + a}.value"
      }.mkString(" + ")
      s"${phaseCaseSql("k.row % " + factor, p => dlit(phases(p)._2(i)))} * ($rowTerm)"
    }.mkString("\n            + ")
    val bOff = phaseCaseSql(s"row % $factor", p => phases(p)._1.toString)
    val bOffC = phaseCaseSql(s"col % $factor", p => phases(p)._1.toString)
    s"""WITH dstpx AS (
       |  SELECT CAST(i // $dstW AS BIGINT) AS row,
       |         CAST(i % $dstW AS BIGINT) AS col
       |  FROM generate_series(0, ${dstW * dstH - 1}) t(i)),
       |keyed AS (
       |  SELECT row, col,
       |    row // $factor + ($bOff) AS r0,
       |    col // $factor + ($bOffC) AS c0
       |  FROM dstpx),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dlit(dstT.a)}*(CAST(k.col AS DOUBLE) + 0.5) + ${dlit(dstT.c)} AS x,
       |  ${dlit(dstT.e)}*(CAST(k.row AS DOUBLE) + 0.5) + ${dlit(dstT.f)} AS y,
       |  CASE WHEN $bad
       |       THEN CAST($nod AS DOUBLE)
       |       ELSE $interp END AS value
       |FROM keyed k
       |$joins
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** Gauss factor-2 downsample: 3x3 window centred on the even source pixel
    * with the classic binomial kernel [[1,2,1],[2,4,2],[1,2,1]], weights
    * renormalized over valid (in-grid, non-nodata) taps. Built *source-side*:
    * each src pixel explodes to its ≤4 (dst, weight) contributions and one
    * hash aggregate sums them — map-side combinable, no join at all (the
    * scale-optimal shape for any separable small-kernel downsample). Integer
    * weights keep renormalization oracle-exact. GDAL's window phase for even
    * factors is implementation-defined; the engine pins the centre to the
    * even pixel and mirrors that rule in the oracle. */
  def resampleGauss(r: Raster): Raster = {
    val g = r.grid
    val factor = 2
    val outW = g.width / factor; val outH = g.height / factor
    val dst = GridRef(g.crs,
      g.transform.compose(Affine.scale(factor.toDouble, factor.toDouble)),
      outW, outH, g.nodata)
    val nod = g.nodata.toLong
    val spark = r.df.sparkSession
    val contrib = r.df
      .filter(col("value") =!= nod)
      .select(col("row"), col("col"), col("value"),
        explode(array((-1 to 1).map(lit(_)): _*)).as("i"))
      .filter((col("row") + col("i")) % 2 === 0)
      .select(col("row"), col("col"), col("value"),
        ((col("row") + col("i")) / 2).cast("long").as("dr"),
        (lit(2) - abs(col("i"))).as("wr"))
      .select(col("col"), col("value"), col("dr"), col("wr"),
        explode(array((-1 to 1).map(lit(_)): _*)).as("j"))
      .filter((col("col") + col("j")) % 2 === 0)
      .select(col("value"), col("dr"), col("wr"),
        ((col("col") + col("j")) / 2).cast("long").as("dc"),
        (lit(2) - abs(col("j"))).as("wc"))
      .filter(col("dr") >= 0 && col("dr") < outH && col("dc") >= 0 && col("dc") < outW)
      .groupBy(col("dr").as("row"), col("dc").as("col"))
      .agg((sum(col("wr") * col("wc") * col("value")).cast("double") /
            sum(col("wr") * col("wc")).cast("double")).as("v"))
    val blocks = spark.range(outW.toLong * outH)
      .select(expr(s"id div $outW").as("row"), (col("id") % outW).as("col"))
    val df = blocks.join(contrib, Seq("row", "col"), "left")
      .select(col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"),
        coalesce(col("v"), lit(g.nodata)).as("value"))
    Raster(df, dst)
  }

  /** DuckDB mirror of [[resampleGauss]]. */
  def resampleGaussSql(src: GridRef, srcSql: String): String = {
    val factor = 2
    val outW = src.width / factor; val outH = src.height / factor
    val dstT = src.transform.compose(Affine.scale(factor.toDouble, factor.toDouble))
    val nod = src.nodata.toLong
    s"""WITH src AS ($srcSql),
       |contrib AS (
       |  SELECT (s.row + oi.i) // 2 AS row, (s.col + oj.j) // 2 AS col,
       |         (2 - ABS(oi.i)) * (2 - ABS(oj.j)) AS w, s.value AS v
       |  FROM src s, (VALUES (-1), (0), (1)) oi(i), (VALUES (-1), (0), (1)) oj(j)
       |  WHERE s.value <> $nod
       |    AND (s.row + oi.i) % 2 = 0 AND (s.col + oj.j) % 2 = 0
       |    AND (s.row + oi.i) // 2 BETWEEN 0 AND ${outH - 1}
       |    AND (s.col + oj.j) // 2 BETWEEN 0 AND ${outW - 1}),
       |agg AS (
       |  SELECT row, col,
       |    CAST(CAST(SUM(w * v) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS v
       |  FROM contrib GROUP BY 1, 2),
       |blocks AS (
       |  SELECT CAST(i // $outW AS BIGINT) AS row, CAST(i % $outW AS BIGINT) AS col
       |  FROM generate_series(0, ${outW.toLong * outH - 1}) t(i))
       |SELECT b.row, b.col,
       |  ${dlit(dstT.a)}*(CAST(b.col AS DOUBLE) + 0.5) + ${dlit(dstT.c)} AS x,
       |  ${dlit(dstT.e)}*(CAST(b.row AS DOUBLE) + 0.5) + ${dlit(dstT.f)} AS y,
       |  COALESCE(a.v, CAST($nod AS DOUBLE)) AS value
       |FROM blocks b LEFT JOIN agg a ON b.row = a.row AND b.col = a.col
       |ORDER BY b.row, b.col""".stripMargin
  }

  /** Integer-factor downsample kernels beyond average — the aggregate-shaped
    * half of the rasterio Resampling enum (_spatial_utils.py:307-323):
    * min / max / sum / rms / med / q1 / q3, all ONE hash aggregate with
    * map-side partial aggregation over non-nodata contributions (empty
    * blocks -> nodata). `mode` is [[resampleMode]] (needs a per-value count
    * level). Quantiles use linear interpolation at rank q*(n-1) — both
    * engines land on the same dyadic-exact doubles for integer inputs. */
  def resampleDown(r: Raster, factor: Int, method: String): Raster = {
    val g = r.grid
    val outW = g.width / factor; val outH = g.height / factor
    val dst = GridRef(g.crs,
      g.transform.compose(Affine.scale(factor.toDouble, factor.toDouble)),
      outW, outH, g.nodata)
    val nodata = g.nodata.toLong
    val vv = when(col("value") =!= nodata, col("value"))
    def pct(q: String): Column =
      coalesce(expr(s"percentile(CASE WHEN value <> $nodata THEN value END, ${q}D)"),
               lit(g.nodata))
    val agg: Column = method match {
      case "min" => coalesce(min(vv), lit(nodata))
      case "max" => coalesce(max(vv), lit(nodata))
      case "sum" => coalesce(sum(vv), lit(nodata))
      case "rms" => when(count(vv) > 0,
          sqrt(sum(vv * vv).cast("double") / count(vv))).otherwise(lit(g.nodata))
      case "med" => pct("0.5")
      case "q1"  => pct("0.25")
      case "q3"  => pct("0.75")
      case m => throw new IllegalArgumentException(s"resampleDown does not handle $m")
    }
    val df = r.df
      .filter(col("row") < outH.toLong * factor && col("col") < outW.toLong * factor)
      .groupBy(expr(s"row div $factor").as("row"), expr(s"col div $factor").as("col"))
      .agg(agg.as("value"))
      .select(col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"), col("value"))
    Raster(df, dst)
  }

  def resampleDownSql(src: GridRef, factor: Int, method: String, srcSql: String): String = {
    val outW = src.width / factor; val outH = src.height / factor
    val dstT = src.transform.compose(Affine.scale(factor.toDouble, factor.toDouble))
    val nod = src.nodata.toLong
    val vv = s"CASE WHEN value <> $nod THEN value END"
    def pct(q: String) = s"COALESCE(quantile_cont($vv, $q), CAST($nod AS DOUBLE))"
    val aggE = method match {
      case "min" => s"COALESCE(min($vv), $nod)"
      case "max" => s"COALESCE(max($vv), $nod)"
      case "sum" => s"COALESCE(CAST(sum($vv) AS BIGINT), $nod)"
      case "rms" => s"CASE WHEN count($vv) > 0 THEN SQRT(CAST(sum(CASE WHEN value <> $nod THEN value*value END) AS DOUBLE) / count($vv)) ELSE CAST($nod AS DOUBLE) END"
      case "med" => pct("0.5")
      case "q1"  => pct("0.25")
      case "q3"  => pct("0.75")
    }
    s"""WITH src AS ($srcSql)
       |SELECT row // $factor AS row, col // $factor AS col,
       |  ${dstT.a}*(CAST(col // $factor AS DOUBLE) + 0.5) + ${dstT.c} AS x,
       |  ${dstT.e}*(CAST(row // $factor AS DOUBLE) + 0.5) + ${dstT.f} AS y,
       |  $aggE AS value
       |FROM src
       |WHERE row < ${outH.toLong * factor} AND col < ${outW.toLong * factor}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Mode downsample (most frequent non-nodata value per block; determinism
    * on count ties: smallest value wins — GDAL's scan order is not
    * reproducible, so the engine defines and mirrors its own tie rule). */
  def resampleMode(r: Raster, factor: Int): Raster = {
    val g = r.grid
    val outW = g.width / factor; val outH = g.height / factor
    val dst = GridRef(g.crs,
      g.transform.compose(Affine.scale(factor.toDouble, factor.toDouble)),
      outW, outH, g.nodata)
    val nodata = g.nodata.toLong
    val spark = r.df.sparkSession
    val counts = r.df
      .filter(col("row") < outH.toLong * factor && col("col") < outW.toLong * factor)
      .filter(col("value") =!= nodata)
      .groupBy(expr(s"row div $factor").as("row"), expr(s"col div $factor").as("col"),
               col("value"))
      .agg(count(lit(1)).as("n"))
    // r6: the top-1-per-block window (exchange + SORT + filter) is one
    // hash aggregate — max_by over (n, -value) picks the same winner as
    // ORDER BY n DESC, value ASC: largest count, then smallest value
    // (keys are unique per block since value is a group key above), and a
    // hash aggregate needs no sort (guide §2.4: fewer/cheaper exchanges).
    val picked = counts
      .groupBy("row", "col")
      .agg(max_by(col("value"), struct(col("n"), (-col("value")).as("nv"))).as("value"))
    val blocks = spark.range(outW.toLong * outH)
      .select(expr(s"id div $outW").as("row"), (col("id") % outW).as("col"))
    val df = blocks.join(picked, Seq("row", "col"), "left")
      .select(col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"),
        coalesce(col("value"), lit(nodata)).as("value"))
    Raster(df, dst)
  }

  def resampleModeSql(src: GridRef, factor: Int, srcSql: String): String = {
    val outW = src.width / factor; val outH = src.height / factor
    val dstT = src.transform.compose(Affine.scale(factor.toDouble, factor.toDouble))
    val nod = src.nodata.toLong
    s"""WITH src AS ($srcSql),
       |cnt AS (
       |  SELECT row // $factor AS row, col // $factor AS col, value, count(*) AS n
       |  FROM src
       |  WHERE value <> $nod AND row < ${outH.toLong * factor} AND col < ${outW.toLong * factor}
       |  GROUP BY 1, 2, 3),
       |picked AS (
       |  SELECT row, col, value,
       |    row_number() OVER (PARTITION BY row, col ORDER BY n DESC, value ASC) AS rn
       |  FROM cnt),
       |blocks AS (
       |  SELECT CAST(i // $outW AS BIGINT) AS row, CAST(i % $outW AS BIGINT) AS col
       |  FROM generate_series(0, ${outW.toLong * outH - 1}) t(i))
       |SELECT b.row, b.col,
       |  ${dstT.a}*(CAST(b.col AS DOUBLE) + 0.5) + ${dstT.c} AS x,
       |  ${dstT.e}*(CAST(b.row AS DOUBLE) + 0.5) + ${dstT.f} AS y,
       |  COALESCE(p.value, $nod) AS value
       |FROM blocks b LEFT JOIN (SELECT * FROM picked WHERE rn = 1) p
       |  ON b.row = p.row AND b.col = p.col
       |ORDER BY b.row, b.col""".stripMargin
  }

  /** Bilinear inverse warp: 2x2 neighbourhood gathered via a 4-way key
    * explode + single pivot aggregate (deterministic weighted sum, no
    * accumulation-order dependence). Any nodata neighbour -> nodata. */
  def reprojectBilinear(srcR: Raster, dst: GridRef): Raster = {
    val spark = srcR.df.sparkSession
    val src = srcR.grid
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val (px, py) = srcPixelColumns(src, dst, col("row"), col("col"))
    val fx = px - 0.5d; val fy = py - 0.5d
    val keyed = dstPx
      .withColumn("c0", floor(fx)).withColumn("r0", floor(fy))
      .withColumn("wx", fx - floor(fx)).withColumn("wy", fy - floor(fy))
    val exploded = keyed.select(col("*"),
        explode(array(
          struct(lit(0).as("dr"), lit(0).as("dc")), struct(lit(0).as("dr"), lit(1).as("dc")),
          struct(lit(1).as("dr"), lit(0).as("dc")), struct(lit(1).as("dr"), lit(1).as("dc"))
        )).as("n"))
      .select(col("row"), col("col"), col("wx"), col("wy"),
        (col("r0") + col("n.dr")).as("s_row"), (col("c0") + col("n.dc")).as("s_col"),
        col("n.dr").as("dr"), col("n.dc").as("dc"))
    val srcDf = srcR.df.select(col("row").as("j_row"), col("col").as("j_col"),
                               col("value").as("s_value"))
    val nodata = dst.nodata
    val joined = exploded.join(srcDf,
        exploded("s_row") === srcDf("j_row") && exploded("s_col") === srcDf("j_col"), "left")
    val gathered = joined.groupBy("row", "col", "wx", "wy")
      .agg(
        max(when(col("dr") === 0 && col("dc") === 0, col("s_value"))).as("v00"),
        max(when(col("dr") === 0 && col("dc") === 1, col("s_value"))).as("v01"),
        max(when(col("dr") === 1 && col("dc") === 0, col("s_value"))).as("v10"),
        max(when(col("dr") === 1 && col("dc") === 1, col("s_value"))).as("v11"))
    val anyBad = col("v00").isNull || col("v01").isNull || col("v10").isNull || col("v11").isNull ||
      col("v00") === nodata.toLong || col("v01") === nodata.toLong ||
      col("v10") === nodata.toLong || col("v11") === nodata.toLong
    val interp =
      (lit(1.0) - col("wy")) * ((lit(1.0) - col("wx")) * col("v00") + col("wx") * col("v01")) +
      col("wy") * ((lit(1.0) - col("wx")) * col("v10") + col("wx") * col("v11"))
    val out = gathered.select(col("row"), col("col"),
      Synth.xColumn(dst, col("col")).as("x"),
      Synth.yColumn(dst, col("row")).as("y"),
      when(anyBad, lit(nodata)).otherwise(interp).as("value"))
    Raster(out, dst)
  }

  // --- GCP / RPC (non-affine georeferencing) warps -------------------------
  // Reference surface: raster_array.py:355-375 merges gcps/rpcs into the
  // reproject kwargs and GDAL's transformers take over (_reproj_get_src,
  // use_affine=False). Here the fitted transform (Geoloc.fitAuto) or the RPC
  // ground→image polynomials ARE the inverse-warp key function — pure Column
  // arithmetic, so the distributed plan is identical in shape to
  // reprojectNearest: generate dst grid, compute src keys in codegen, one
  // equi-join. No iteration anywhere on the executor path.

  /** Shared nearest-gather: generate the dst grid, key each pixel by the
    * given continuous source-pixel Columns (over "row"/"col"), equi-join. */
  private def nearestWarpFromPx(srcR: Raster, dst: GridRef,
                                pxy: (Column, Column) => (Column, Column)): Raster = {
    val spark = srcR.df.sparkSession
    val dstPx = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val (px, py) = pxy(col("row"), col("col"))
    val keyed = dstPx
      .withColumn("src_col", floor(Quantize9.column(px)))
      .withColumn("src_row", floor(Quantize9.column(py)))
    val srcDf = srcR.df.select(col("row").as("s_row"), col("col").as("s_col"),
                               col("value").as("s_value"))
    val joined = keyed.join(srcDf,
        keyed("src_row") === srcDf("s_row") && keyed("src_col") === srcDf("s_col"), "left")
      .select(col("row"), col("col"),
        Synth.xColumn(dst, col("col")).as("x"),
        Synth.yColumn(dst, col("row")).as("y"),
        coalesce(col("s_value"), lit(dst.nodata.toLong)).as("value"))
    Raster(joined, dst)
  }

  /** reproject(dst_crs, gcps=...): fit the GCP transform (homography for 4-5
    * points, order-1 polynomial otherwise — GDAL 3.11+ selection), size the
    * destination via the GCP SuggestedWarpOutput, inverse-warp through the
    * closed-form homography inverse. The source raster's own affine is
    * ignored, exactly as in the reference (use_affine=False). */
  def reprojectGcpNearest(srcR: Raster, gcps: Seq[Gcp], gcpCrs: Crs,
                          dstCrs: Crs): Raster = {
    val h = Geoloc.fitAuto(gcps)
    val dst = Geoloc.suggestedWarpOutputGcp(srcR.grid.width, srcR.grid.height, h,
                                            gcpCrs, dstCrs, srcR.grid.nodata)
    val hInv = h.invert
    nearestWarpFromPx(srcR, dst, { (dRow, dCol) =>
      val dx = lit(dst.transform.a) * (dCol.cast("double") + 0.5d) + lit(dst.transform.c)
      val dy = lit(dst.transform.e) * (dRow.cast("double") + 0.5d) + lit(dst.transform.f)
      val (gx, gy) =
        if (dstCrs == gcpCrs) (dx, dy)
        else { val (lo, la) = inverseColumns(dstCrs, dx, dy); forwardColumns(gcpCrs, lo, la) }
      homographyColumns(hInv, gx, gy)
    })
  }

  /** reproject(dst_crs, gcps=..., order=2|3): the GDAL GCP polynomial
    * transformer beyond the golden-matched order 1. The destination is
    * sized through the FORWARD order-n fit (same SuggestedWarpOutput edge
    * sampling as the homography path); the per-pixel inverse is GDAL's own
    * convention — a SECOND order-n polynomial fit over the same GCPs with
    * image and ground swapped — so the warp stays a closed-form
    * codegen'd Column expression with literal coefficients, no per-pixel
    * iteration, identical plan shape to the order-1 path. */
  def reprojectGcpPolyNearest(srcR: Raster, gcps: Seq[Gcp], gcpCrs: Crs,
                              dstCrs: Crs, order: Int): Raster = {
    val fwd = Geoloc.fitPoly(gcps, order)
    val inv = Geoloc.fitPoly(gcps, order, swap = true)
    val dst = Geoloc.suggestedWarpOutputGcpFwd(srcR.grid.width, srcR.grid.height,
      (c, r) => fwd(c, r), gcpCrs, dstCrs, srcR.grid.nodata)
    nearestWarpFromPx(srcR, dst, { (dRow, dCol) =>
      val dx = lit(dst.transform.a) * (dCol.cast("double") + 0.5d) + lit(dst.transform.c)
      val dy = lit(dst.transform.e) * (dRow.cast("double") + 0.5d) + lit(dst.transform.f)
      val (gx, gy) =
        if (dstCrs == gcpCrs) (dx, dy)
        else { val (lo, la) = inverseColumns(dstCrs, dx, dy); forwardColumns(gcpCrs, lo, la) }
      poly2dColumns(inv, gx, gy)
    })
  }

  /** Evaluate a Poly2D on Columns — term order and left-to-right addition
    * exactly as Poly2D.terms / poly2dSql. */
  def poly2dColumns(p: Poly2D, u: Column, v: Column): (Column, Column) = {
    val t: Seq[Column] = {
      val base = Seq(lit(1.0d), u, v, u * u, u * v, v * v)
      if (p.order == 2) base
      else base ++ Seq(u * u * u, u * u * v, u * v * v, v * v * v)
    }
    (t.zip(p.cx).map { case (ti, ci) => lit(ci) * ti }.reduceLeft(_ + _),
     t.zip(p.cy).map { case (ti, ci) => lit(ci) * ti }.reduceLeft(_ + _))
  }

  /** DuckDB text of a Poly2D coordinate (same order/associativity). */
  def poly2dSql(c: Array[Double], order: Int, uE: String, vE: String): String = {
    val t = {
      val base = Seq("CAST(1.0 AS DOUBLE)", uE, vE, s"$uE*$uE", s"$uE*$vE", s"$vE*$vE")
      if (order == 2) base
      else base ++ Seq(s"$uE*$uE*$uE", s"$uE*$uE*$vE", s"$uE*$vE*$vE", s"$vE*$vE*$vE")
    }
    t.zip(c).map { case (ti, ci) => s"${dlit(ci)}*$ti" }.mkString(" + ")
  }

  /** DuckDB mirror of [[reprojectGcpPolyNearest]] (dstCrs == gcpCrs):
    * literal inverse-poly coefficients, same keyed quantize9 guard as the
    * homography oracle. */
  def gcpPolyNearestSql(dst: GridRef, inv: Poly2D, srcSql: String): String = {
    val t = dst.transform
    val gxE = s"${dlit(t.a)}*(CAST(col AS DOUBLE) + 0.5) + ${dlit(t.c)}"
    val gyE = s"${dlit(t.e)}*(CAST(row AS DOUBLE) + 0.5) + ${dlit(t.f)}"
    val pxE = poly2dSql(inv.cx, inv.order, "gx", "gy")
    val pyE = poly2dSql(inv.cy, inv.order, "gx", "gy")
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |ground AS (
       |  SELECT row, col, $gxE AS gx, $gyE AS gy FROM dstpx),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR(${Quantize9.sql(pxE)}) AS BIGINT) AS src_col,
       |    CAST(FLOOR(${Quantize9.sql(pyE)}) AS BIGINT) AS src_row
       |  FROM ground),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dlit(t.a)}*(CAST(k.col AS DOUBLE) + 0.5) + ${dlit(t.c)} AS x,
       |  ${dlit(t.e)}*(CAST(k.row AS DOUBLE) + 0.5) + ${dlit(t.f)} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** Apply a homography to planar Columns (same op order as the SQL text). */
  def homographyColumns(h: Homography, x: Column, y: Column): (Column, Column) = {
    val m = h.m
    val w = lit(m(6)) * x + lit(m(7)) * y + lit(m(8))
    ((lit(m(0)) * x + lit(m(1)) * y + lit(m(2))) / w,
     (lit(m(3)) * x + lit(m(4)) * y + lit(m(5))) / w)
  }

  /** DuckDB mirror of [[reprojectGcpNearest]] for the dstCrs == gcpCrs case:
    * the inverse homography has literal coefficients, so the whole key
    * function is one rational expression. */
  /** Double literal for DuckDB via a string cast: strtod is correctly
    * rounded, whereas a bare 17-digit literal becomes DECIMAL whose
    * int128-based conversion to double can land 1 ulp off the Java parse.
    * Matters for raw double *output* columns (the keyed path is protected by
    * the quantize9 guard). */
  def dlit(v: Double): String = s"('$v'::DOUBLE)"

  def gcpNearestSql(dst: GridRef, hInv: Homography, srcSql: String): String = {
    val t = dst.transform; val m = hInv.m
    val gxE = s"${dlit(t.a)}*(CAST(col AS DOUBLE) + 0.5) + ${dlit(t.c)}"
    val gyE = s"${dlit(t.e)}*(CAST(row AS DOUBLE) + 0.5) + ${dlit(t.f)}"
    val wE = s"${dlit(m(6))}*gx + ${dlit(m(7))}*gy + ${dlit(m(8))}"
    val pxE = s"(${dlit(m(0))}*gx + ${dlit(m(1))}*gy + ${dlit(m(2))}) / ($wE)"
    val pyE = s"(${dlit(m(3))}*gx + ${dlit(m(4))}*gy + ${dlit(m(5))}) / ($wE)"
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |ground AS (
       |  SELECT row, col, $gxE AS gx, $gyE AS gy FROM dstpx),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR(${Quantize9.sql(pxE)}) AS BIGINT) AS src_col,
       |    CAST(FLOOR(${Quantize9.sql(pyE)}) AS BIGINT) AS src_row
       |  FROM ground),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dlit(t.a)}*(CAST(k.col AS DOUBLE) + 0.5) + ${dlit(t.c)} AS x,
       |  ${dlit(t.e)}*(CAST(k.row AS DOUBLE) + 0.5) + ${dlit(t.f)} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  /** The 20 RPC00B monomials over normalized (p, l, h) Columns — must stay in
    * lockstep with [[rpcTermsSql]] and Rpc.terms (same order, same
    * associativity) for bit-identical oracle sums. */
  private def rpcTermsCols(p: Column, l: Column, h: Column): Seq[Column] = Seq(
    lit(1.0), l, p, h, l * p, l * h, p * h, l * l, p * p, h * h,
    p * l * h, l * l * l, l * p * p, l * h * h, l * l * p, p * p * p,
    p * h * h, l * l * h, p * p * h, h * h * h)

  private def rpcTermsSql(p: String, l: String, h: String): Seq[String] = Seq(
    "CAST(1.0 AS DOUBLE)", l, p, h, s"$l*$p", s"$l*$h", s"$p*$h", s"$l*$l", s"$p*$p", s"$h*$h",
    s"$p*$l*$h", s"$l*$l*$l", s"$l*$p*$p", s"$l*$h*$h", s"$l*$l*$p", s"$p*$p*$p",
    s"$p*$h*$h", s"$l*$l*$h", s"$p*$p*$h", s"$h*$h*$h")

  /** RPC ground→image as Columns: continuous (line=row, samp=col) source
    * pixel coordinates for a lon/lat ground point at fixed height. */
  def rpcImageColumns(rpc: Rpc, lon: Column, lat: Column,
                      height: Double): (Column, Column) = {
    val p = (lat - lit(rpc.latOff)) / lit(rpc.latScale)
    val l = (lon - lit(rpc.longOff)) / lit(rpc.longScale)
    val h = lit((height - rpc.heightOff) / rpc.heightScale)
    val t = rpcTermsCols(p, l, h)
    def poly(c: Array[Double]): Column =
      t.zip(c).map { case (ti, ci) => lit(ci) * ti }.reduceLeft(_ + _)
    (poly(rpc.lineNum) / poly(rpc.lineDen) * lit(rpc.lineScale) + lit(rpc.lineOff),
     poly(rpc.sampNum) / poly(rpc.sampDen) * lit(rpc.sampScale) + lit(rpc.sampOff))
  }

  /** reproject(dst_crs=EPSG:4326, rpcs=...): the destination grid must be
    * geographic (RPC CRS is always 4326 — rioxarray.py:1098); each dst pixel
    * centre is a (lon, lat) that the RPC model maps *directly* to a source
    * image position — the model's native direction is exactly the inverse
    * warp, so there is no per-pixel iteration. `dst` is sized by the caller
    * (driver-side Rpc.imageToGround Newton on the corners — see
    * Geoloc/Queries). */
  def reprojectRpcNearest(srcR: Raster, rpc: Rpc, dst: GridRef,
                          height: Double = 0.0): Raster = {
    require(dst.crs.proj == LongLat, "RPC warp destination must be geographic (EPSG:4326)")
    nearestWarpFromPx(srcR, dst, { (dRow, dCol) =>
      val lon = lit(dst.transform.a) * (dCol.cast("double") + 0.5d) + lit(dst.transform.c)
      val lat = lit(dst.transform.e) * (dRow.cast("double") + 0.5d) + lit(dst.transform.f)
      val (srow, scol) = rpcImageColumns(rpc, lon, lat, height)
      (scol, srow)
    })
  }

  /** DuckDB mirror of [[reprojectRpcNearest]]: literal RPC coefficients, the
    * same 20-term sums in the same order. */
  def rpcNearestSql(dst: GridRef, rpc: Rpc, height: Double, srcSql: String): String = {
    val t = dst.transform
    // CAST keeps the fixed-height normalized term DOUBLE-typed: a bare
    // decimal literal is DECIMAL in DuckDB, and a pure-literal monomial
    // (h*h*h) evaluated in exact decimal would diverge from double math.
    val hN = s"CAST(${(height - rpc.heightOff) / rpc.heightScale} AS DOUBLE)"
    val terms = rpcTermsSql("p", "l", hN)
    def poly(c: Array[Double]): String =
      terms.zip(c).map { case (ti, ci) => s"$ci*$ti" }.mkString(" + ")
    val rowE = s"(${poly(rpc.lineNum)}) / (${poly(rpc.lineDen)}) * ${rpc.lineScale} + ${rpc.lineOff}"
    val colE = s"(${poly(rpc.sampNum)}) / (${poly(rpc.sampDen)}) * ${rpc.sampScale} + ${rpc.sampOff}"
    s"""WITH dstpx AS (
       |  SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |         CAST(i % ${dst.width} AS BIGINT) AS col
       |  FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i)),
       |ground AS (
       |  SELECT row, col,
       |    ((${t.e}*(CAST(row AS DOUBLE) + 0.5) + ${t.f}) - ${rpc.latOff}) / ${rpc.latScale} AS p,
       |    ((${t.a}*(CAST(col AS DOUBLE) + 0.5) + ${t.c}) - ${rpc.longOff}) / ${rpc.longScale} AS l
       |  FROM dstpx),
       |keyed AS (
       |  SELECT row, col,
       |    CAST(FLOOR(${Quantize9.sql(colE)}) AS BIGINT) AS src_col,
       |    CAST(FLOOR(${Quantize9.sql(rowE)}) AS BIGINT) AS src_row
       |  FROM ground),
       |src AS ($srcSql)
       |SELECT k.row, k.col,
       |  ${dlit(t.a)}*(CAST(k.col AS DOUBLE) + 0.5) + ${dlit(t.c)} AS x,
       |  ${dlit(t.e)}*(CAST(k.row AS DOUBLE) + 0.5) + ${dlit(t.f)} AS y,
       |  COALESCE(s.value, ${dst.nodata.toLong}) AS value
       |FROM keyed k LEFT JOIN src s ON k.src_row = s.row AND k.src_col = s.col
       |ORDER BY k.row, k.col""".stripMargin
  }

  // ---- geolocation-array warp (raster_array.py:367-375 src_geoloc_array) --

  /** reproject from GEOLOCATION ARRAYS — the fourth georeferencing mode
    * (after affine, GCPs, RPCs): the source carries a per-pixel lon/lat
    * table instead of an affine (swath data; the reference forwards
    * `src_geoloc_array` to GDAL's geolocation transformer,
    * raster_array.py:367-375).
    *
    * Spark-first realization is a FORWARD scatter, not an inverse lookup
    * (there is no closed-form inverse of an irregular geolocation field):
    * every source pixel's geolocation projects into the destination grid
    * (one codegen'd map), then ONE map-side-combinable aggregate picks the
    * nearest contributor per destination pixel — min over the struct
    * (dist², src_row, src_col, value), so ties break deterministically on
    * source position. Uncovered destination pixels fill nodata via a
    * skeleton left join. Two shuffles total (aggregate + skeleton join),
    * both keyed by destination pixel; at 100 TB both sides pre-bucket by
    * dst tile so the join co-locates.
    *
    * `src`: (row, col, lon, lat, value); `dst` must be north-up
    * rectilinear (b = d = 0), like every dst grid the engine emits. */
  def reprojectGeolocNearest(src: DataFrame, dst: GridRef): Raster = {
    val spark = src.sparkSession
    val t = dst.transform
    require(t.b == 0 && t.d == 0, "geoloc warp needs a north-up rectilinear dst")
    val nodata = dst.nodata.toLong
    val pcol = floor(Quantize9.column((col("lon") - t.c) / t.a))
    val prow = floor(Quantize9.column((col("lat") - t.f) / t.e))
    val cx = lit(t.a) * (col("pcol") + 0.5d) + lit(t.c)
    val cy = lit(t.e) * (col("prow") + 0.5d) + lit(t.f)
    val d2 = (col("lon") - cx) * (col("lon") - cx) +
             (col("lat") - cy) * (col("lat") - cy)
    val chosen = src
      .withColumn("pcol", pcol).withColumn("prow", prow)
      .filter(col("pcol") >= 0 && col("pcol") < dst.width &&
              col("prow") >= 0 && col("prow") < dst.height)
      .withColumn("d2", d2)
      .groupBy(col("prow").as("row"), col("pcol").as("col"))
      .agg(min(struct(col("d2"), col("row").as("srow"), col("col").as("scol"),
        col("value"))).as("best"))
      .select(col("row"), col("col"), col("best.value").as("v"))
    val skeleton = spark.range(dst.width.toLong * dst.height)
      .select(expr(s"id div ${dst.width}").as("row"), (col("id") % dst.width).as("col"))
    val out = skeleton.join(chosen, Seq("row", "col"), "left")
      .withColumn("value", coalesce(col("v"), lit(nodata)))
      .withColumn("x", Synth.xColumn(dst, col("col")))
      .withColumn("y", Synth.yColumn(dst, col("row")))
      .select("row", "col", "x", "y", "value")
    Raster(out, dst)
  }

  /** DuckDB mirror of [[reprojectGeolocNearest]] over a source SQL with
    * (row, col, lon, lat, value) columns. */
  def geolocNearestSql(srcSql: String, dst: GridRef): String = {
    val t = dst.transform
    val a = dlit(t.a); val c = dlit(t.c); val e = dlit(t.e); val f = dlit(t.f)
    val cx = s"($a * (pcol + 0.5) + $c)"
    val cy = s"($e * (prow + 0.5) + $f)"
    s"""WITH _gsrc AS ($srcSql),
       |_proj AS (SELECT row AS srow, col AS scol, value, lon, lat,
       |    CAST(FLOOR(${Quantize9.sql(s"(lon - $c) / $a")}) AS BIGINT) AS pcol,
       |    CAST(FLOOR(${Quantize9.sql(s"(lat - $f) / $e")}) AS BIGINT) AS prow
       |  FROM _gsrc),
       |_flt AS (SELECT * FROM _proj
       |  WHERE pcol >= 0 AND pcol < ${dst.width} AND prow >= 0 AND prow < ${dst.height}),
       |_d AS (SELECT *, (lon - $cx) * (lon - $cx) + (lat - $cy) * (lat - $cy) AS d2
       |  FROM _flt),
       |_r AS (SELECT prow, pcol, value,
       |    row_number() OVER (PARTITION BY prow, pcol ORDER BY d2, srow, scol) AS rn
       |  FROM _d),
       |_ch AS (SELECT prow, pcol, value FROM _r WHERE rn = 1),
       |_g AS (SELECT CAST(i // ${dst.width} AS BIGINT) AS row,
       |              CAST(i % ${dst.width} AS BIGINT) AS col
       |       FROM generate_series(0, ${dst.width.toLong * dst.height - 1}) t(i))
       |SELECT g.row, g.col,
       |  ${Synth.xSql(dst)} AS x, ${Synth.ySql(dst)} AS y,
       |  COALESCE(ch.value, ${dst.nodata.toLong}) AS value
       |FROM _g g LEFT JOIN _ch ch ON g.row = ch.prow AND g.col = ch.pcol
       |ORDER BY row, col""".stripMargin
  }
}
