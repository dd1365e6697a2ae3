package graft.docs

import graft.core._
import graft.ops.WarpOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The interleaved text+media document model (BASELINE.json input_hint):
  *   docs(doc_id, spans: array<struct<kind, text, media_ref, offset>>)
  * with the per-row invariant that the span sequence (kind, text, media_ref,
  * order) is preserved exactly through every operator.
  *
  * Span arrays are carried as opaque nested values — operators derive join
  * keys (geometry, media refs) into *separate* columns and never
  * explode-and-regroup the array itself (SURVEY.md §7.4 hard-part 6), so
  * shuffles cannot reorder spans.
  *
  * Geometry inside text spans is encoded in integer pixel space
  * ("geom:PXPOLY(c0 r0 c1 r1)" over the MODIS grid) so both engines format
  * identical strings. Every cell cover starts from one head, [[geomBbox]]
  * (pixels -> planar -> lon/lat bbox with the same Column arithmetic as the
  * raster ops), and explodes a per-family generator over it: the quadtree
  * cell rectangle, the S2 st-rect kernel or the hex SAT kernel.
  *
  * The spatial doc x tile join is one skeleton for all three families,
  * [[spatialJoin]]: bbox head, the family's cover, and a broadcast
  * equi-join on cell_id against the tile side. The tile side is a constant
  * of (grid, family), so [[tileCells]] evaluates it on the driver with the
  * family's scalar cell function and ships it as a LocalRelation. */
object DocOps {

  val TileGridN = 8 // MODIS 200x200 split as 8x8 tiles of 25px

  /** Build the interleaved spans table from the flat documents table,
    * deterministically: 5 spans per doc —
    *   0: text  (first 40 chars)
    *   1: media (tile_<(doc_id*31) % 64>)
    *   2: text  ("geom:PXPOLY(c0 r0 c1 r1)" 12x12-pixel box from doc_id)
    *   3: media (tile_<(doc_id*17 + 5) % 64>)
    *   4: text  (rest of the text)
    */
  def interleave(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val c0 = (id * 7) % 180
    val r0 = (id * 13) % 180
    val geomTxt = concat(lit("geom:PXPOLY("), c0.cast("string"), lit(" "),
      r0.cast("string"), lit(" "), (c0 + 12).cast("string"), lit(" "),
      (r0 + 12).cast("string"), lit(")"))
    val span = (kind: String, text: Column, ref: Column, off: Int) =>
      struct(lit(kind).as("kind"), text.as("text"), ref.as("media_ref"),
             lit(off).cast("int").as("offset"))
    // all non-text columns (ts, lang, ...) pass through untouched, so the
    // op composes with streaming sources without extra joins
    docs.withColumn("spans", array(
      span("text", substring(col("text"), 1, 40), lit(""), 0),
      span("media", lit(""), concat(lit("tile_"), ((id * 31) % 64).cast("string")), 1),
      span("text", geomTxt, lit(""), 2),
      span("media", lit(""), concat(lit("tile_"), ((id * 17 + 5) % 64).cast("string")), 3),
      span("text", substring(col("text"), 41, 1000000), lit(""), 4)
    )).drop("text")
  }

  /** Flat (exploded, position-preserving) view of the spans — the shape the
    * oracle reproduces; pos comes from posexplode so sequence equality is
    * what is being checked. */
  def flatSpans(docsSpans: DataFrame): DataFrame =
    docsSpans.select(col("doc_id"),
        posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))

  /** SQL mirror of interleave+flatten: five UNION ALL arms per position. */
  def flatSpansSql(table: String): String = {
    val c0 = "(doc_id * 7) % 180"; val r0 = "(doc_id * 13) % 180"
    val geomTxt = s"'geom:PXPOLY(' || CAST($c0 AS VARCHAR) || ' ' || CAST($r0 AS VARCHAR) || " +
      s"' ' || CAST($c0 + 12 AS VARCHAR) || ' ' || CAST($r0 + 12 AS VARCHAR) || ')'"
    s"""SELECT doc_id, pos, kind, text, media_ref, "offset" FROM (
       |  SELECT doc_id, 0 AS pos, 'text' AS kind, substr(text, 1, 40) AS text, '' AS media_ref, 0 AS "offset" FROM $table
       |  UNION ALL SELECT doc_id, 1, 'media', '', 'tile_' || CAST((doc_id * 31) % 64 AS VARCHAR), 1 FROM $table
       |  UNION ALL SELECT doc_id, 2, 'text', $geomTxt, '', 2 FROM $table
       |  UNION ALL SELECT doc_id, 3, 'media', '', 'tile_' || CAST((doc_id * 17 + 5) % 64 AS VARCHAR), 3 FROM $table
       |  UNION ALL SELECT doc_id, 4, 'text', substr(text, 41, 1000000), '', 4 FROM $table)
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** doc -> tile assignment via media_ref (plain equi-join on the derived
    * ref column; spans array untouched). Output one row per (doc, media
    * span): doc_id, tile_id, tile_row, tile_col. */
  def tileAssignments(docsSpans: DataFrame): DataFrame = {
    val refs = docsSpans.select(col("doc_id"),
        explode(filter(col("spans"), s => s.getField("kind") === "media")).as("s"))
      .select(col("doc_id"), col("s.media_ref").as("media_ref"),
              col("s.offset").as("offset"))
    refs
      .withColumn("tile_id", regexp_extract(col("media_ref"), "tile_(\\d+)", 1).cast("long"))
      .withColumn("tile_row", expr(s"tile_id div $TileGridN"))
      .withColumn("tile_col", col("tile_id") % TileGridN)
      .select("doc_id", "offset", "tile_id", "tile_row", "tile_col")
  }

  def tileAssignmentsSql(table: String): String =
    s"""SELECT doc_id, "offset", tile_id, tile_id // $TileGridN AS tile_row,
       |  tile_id % $TileGridN AS tile_col
       |FROM (
       |  SELECT doc_id, 1 AS "offset", (doc_id * 31) % 64 AS tile_id FROM $table
       |  UNION ALL SELECT doc_id, 3, (doc_id * 17 + 5) % 64 FROM $table)
       |ORDER BY doc_id, "offset"""".stripMargin

  // ---- the geometry bbox: the shared head of every cover ------------------

  /** (doc_id, lon_min, lon_max, lat_min, lat_max) of each doc geometry: parse
    * the integer pixel box, map its corners through the grid affine and the
    * inverse projection. lon depends on BOTH x and y under sinusoidal, so
    * each range is the min/max over all four corners (complete-cover
    * requirement). */
  private def geomBbox(docsSpans: DataFrame, grid: GridRef): DataFrame = {
    val geomSpan = element_at(filter(col("spans"),
      s => s.getField("text").startsWith("geom:")), 1).getField("text")
    // NOTE: the filter() HOF here is CodegenFallback and therefore a
    // whole-stage-codegen BARRIER — replacing it with a codegen'd scan
    // (round-4 experiment, functions.SpanTextWithPrefix since removed)
    // fused the md5-heavy interleave head, this lookup and the cover
    // arithmetic into ONE generated method past hugeMethodLimit, Spark
    // disabled codegen for the whole stage, and every doc leg regressed
    // 6-8x. The interpreted lookup costs far less than the split stages
    // save; keep the barrier, and keep every cover's consumer free of
    // filters over bbox columns: Spark infers isnotnull constraints from
    // them and pushes those through these projections, inlining a copy of
    // this lookup per reference (DocOpsSpec counts the copies).
    // single split instead of four regexp extractions
    val px = docsSpans.select(col("doc_id"), geomSpan.as("g"))
      .withColumn("nums", split(
        substring_index(substring_index(col("g"), "(", -1), ")", 1), " "))
      .withColumn("c0", element_at(col("nums"), 1).cast("double"))
      .withColumn("r0", element_at(col("nums"), 2).cast("double"))
      .withColumn("c1", element_at(col("nums"), 3).cast("double"))
      .withColumn("r1", element_at(col("nums"), 4).cast("double"))
    val t = grid.transform
    // pixel box corners -> planar; y descends with row so (r0 -> maxy)
    val xMin = lit(t.a) * col("c0") + lit(t.c)
    val xMax = lit(t.a) * col("c1") + lit(t.c)
    val yMax = lit(t.e) * col("r0") + lit(t.f)
    val yMin = lit(t.e) * col("r1") + lit(t.f)
    val corners = Seq((xMin, yMin), (xMin, yMax), (xMax, yMin), (xMax, yMax))
      .map { case (x, y) => WarpOps.inverseColumns(grid.crs, x, y) }
    px.select(col("doc_id"),
      least(corners.map(_._1): _*).as("lon_min"),
      greatest(corners.map(_._1): _*).as("lon_max"),
      least(corners.map(_._2): _*).as("lat_min"),
      greatest(corners.map(_._2): _*).as("lat_max"))
  }

  /** DuckDB sinusoidal inverse of planar expressions, in
    * [[WarpOps.inverseColumns]]' op order. */
  private def inverseSql(grid: GridRef, xE: String, yE: String): (String, String) = {
    val (r, lon0) = grid.crs.proj match {
      case Sinusoidal(rr, l0) => (rr, l0)
      case p => throw new IllegalArgumentException(s"oracle supports sinusoidal, got $p")
    }
    (s"(($xE) / ($r * COS(($yE) / $r))) / ${WarpOps.D2R} + $lon0",
     s"(($yE) / $r) / ${WarpOps.D2R}")
  }

  /** DuckDB mirror of [[geomBbox]] over a flat documents table (the pixel
    * box comes from the same doc_id arithmetic as [[interleave]]). */
  private def geomBboxSql(table: String, grid: GridRef): String = {
    val t = grid.transform
    val c0 = s"CAST((doc_id * 7) % 180 AS DOUBLE)"
    val r0 = s"CAST((doc_id * 13) % 180 AS DOUBLE)"
    val c1 = s"($c0 + 12)"; val r1 = s"($r0 + 12)"
    val xMin = s"${t.a} * $c0 + ${t.c}"; val xMax = s"${t.a} * $c1 + ${t.c}"
    val yMax = s"${t.e} * $r0 + ${t.f}"; val yMin = s"${t.e} * $r1 + ${t.f}"
    val corners = Seq((xMin, yMin), (xMin, yMax), (xMax, yMin), (xMax, yMax))
      .map { case (x, y) => inverseSql(grid, x, y) }
    s"""SELECT doc_id, LEAST(${corners.map(_._1).mkString(", ")}) AS lon_min,
       |  GREATEST(${corners.map(_._1).mkString(", ")}) AS lon_max,
       |  LEAST(${corners.map(_._2).mkString(", ")}) AS lat_min,
       |  GREATEST(${corners.map(_._2).mkString(", ")}) AS lat_max
       |FROM $table""".stripMargin
  }

  // ---- cell covers ---------------------------------------------------------

  /** Quadtree cell cover of each document's geometry: the level-L cell
    * rectangle of its lon/lat bbox. Pure Column arithmetic + two explodes;
    * the output (doc_id, cell_id) is the spatial-join key set for doc x
    * tile joins. */
  def geomCellCover(docsSpans: DataFrame, grid: GridRef, level: Int): DataFrame =
    quadCoverFromBbox(geomBbox(docsSpans, grid), level)

  private def quadCoverFromBbox(bbox: DataFrame, level: Int): DataFrame =
    bbox.select(col("doc_id"),
        Cells.ixColumn(col("lon_min"), level).as("ix0"),
        Cells.ixColumn(col("lon_max"), level).as("ix1"),
        Cells.iyColumn(col("lat_min"), level).as("iy0"),
        Cells.iyColumn(col("lat_max"), level).as("iy1"))
      .select(col("doc_id"), explode(sequence(col("iy0"), col("iy1"))).as("iy"),
              col("ix0"), col("ix1"))
      .select(col("doc_id"), col("iy"), explode(sequence(col("ix0"), col("ix1"))).as("ix"))
      .select(col("doc_id"),
        shiftleft(Cells.mortonColumn(col("ix"), col("iy"), level), 5)
          .bitwiseOR(lit(level.toLong)).as("cell_id"))

  def geomCellCoverSql(table: String, grid: GridRef, level: Int): String = {
    val n = 1L << level
    def ixE(lonE: String) =
      s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($lonE) + 180.0)/360.0*$n) AS BIGINT)))"
    def iyE(latE: String) =
      s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($latE) + 90.0)/180.0*$n) AS BIGINT)))"
    val morton = (0 until level).flatMap { b =>
      Seq(s"((ix & ${1L << b}) << $b)", s"((iy & ${1L << b}) << ${b + 1})")
    }.mkString(" | ")
    s"""WITH _b AS (${geomBboxSql(table, grid)}),
       |px AS (
       |  SELECT doc_id, ${ixE("lon_min")} AS ix0, ${ixE("lon_max")} AS ix1,
       |         ${iyE("lat_min")} AS iy0, ${iyE("lat_max")} AS iy1
       |  FROM _b),
       |cells AS (
       |  SELECT doc_id, unnest(generate_series(iy0, iy1)) AS iy, ix0, ix1 FROM px),
       |cells2 AS (
       |  SELECT doc_id, iy, unnest(generate_series(ix0, ix1)) AS ix FROM cells)
       |SELECT doc_id, (($morton) << 5) | $level AS cell_id
       |FROM cells2 ORDER BY doc_id, cell_id""".stripMargin
  }

  /** S2-style cell cover of each doc geometry (the north_rule's "H3 AND S2
    * cell covers"): the lon/lat bbox is lattice-sampled `samples` x
    * `samples` and each sample's spherical cell collected DISTINCT. The
    * cover is complete when the lattice step is at most half the minimum
    * cell angular extent (~38.2°/2^level) — callers size (level, samples)
    * from the maximum geometry extent; the fixture uses level 7 / 9 samples
    * for ≤0.8° boxes (step ≤0.1° vs half-min-cell 0.15°). A sliver-free
    * subdivision cover is the production refinement; the lattice keeps the
    * DuckDB oracle exactly mirrorable. */
  def geomCellCoverS2(docsSpans: DataFrame, grid: GridRef, level: Int,
                      samples: Int = 9): DataFrame = {
    val k = (samples - 1).toDouble
    val lattice = geomBbox(docsSpans, grid)
      .select(col("*"), explode(sequence(lit(0), lit(samples - 1))).as("i"))
      .select(col("*"), explode(sequence(lit(0), lit(samples - 1))).as("j"))
      .select(col("doc_id"),
        (col("lon_min") + (col("lon_max") - col("lon_min")) *
          (col("i").cast("double") / lit(k))).as("lon"),
        (col("lat_min") + (col("lat_max") - col("lat_min")) *
          (col("j").cast("double") / lit(k))).as("lat"))
    Cells.withS2CellId(lattice, col("lon"), col("lat"), level, "cell_id")
      .select("doc_id", "cell_id")
      .distinct()
  }

  def geomCellCoverS2Sql(table: String, grid: GridRef, level: Int,
                         samples: Int = 9): String = {
    val k = (samples - 1).toDouble
    val lattice =
      s"""SELECT doc_id,
         |  lon_min + (lon_max - lon_min) * (CAST(i.i AS DOUBLE) / $k) AS lon,
         |  lat_min + (lat_max - lat_min) * (CAST(j.j AS DOUBLE) / $k) AS lat
         |FROM (${geomBboxSql(table, grid)}) b,
         |     generate_series(0, ${samples - 1}) i(i),
         |     generate_series(0, ${samples - 1}) j(j)""".stripMargin
    s"""SELECT DISTINCT doc_id, cell_id FROM (
       |${Cells.s2CellIdSql(lattice, "lon", "lat", level, Seq("doc_id"))}
       |) ORDER BY doc_id, cell_id""".stripMargin
  }

  /** Sliver-free S2 cover via exact st-rect enumeration — the production
    * replacement for the 81-point lattice of [[geomCellCoverS2]].
    *
    * When the bbox's four corners land on ONE cube face and the lon range
    * crosses no multiple of 90° (so u and v are corner-monotonic over the
    * rect on that face — u = tan(Δlon) on equatorial faces, cot-scaled
    * forms on polar ones, both with edge extremes at corners away from the
    * face-centre meridians), the cover is the full index rectangle
    * [st(u_min)..st(u_max)] x [st(v_min)..st(v_max)]: a map-only
    * sequence-explode producing each cell EXACTLY ONCE — no 81x sample
    * amplification, no DISTINCT shuffle at all. Rows that violate the
    * preconditions (face straddle, 90°-meridian span, pole) fall back to
    * the lattice branch, preserving totality. At 10^12 docs this turns the
    * worst doc op from 81 rows+dedup per doc into ~#cells rows, shuffle-free. */
  def geomCellCoverS2Rect(docsSpans: DataFrame, grid: GridRef, level: Int,
                          latticeSamples: Int = 9): DataFrame =
    // ONE static-kernel call per doc (functions.S2RectCover: exact st-rect
    // hull, single-face or 45°-piecewise, lattice only for polar-cap
    // straddlers) + one explode. A first pure-Column formulation inlined
    // the 4-corner face/uv CASE trees twice across a union and ran
    // INTERPRETED past the JIT threshold — 4x slower than the lattice it
    // replaced; the kernel form is the LshBuckets lesson applied again.
    s2RectCoverFromBbox(geomBbox(docsSpans, grid), level, latticeSamples)

  /** Kernel cover over ANY (doc_id, lon_min, lon_max, lat_min, lat_max)
    * frame (shared by the grid-derived cover above and the multiface
    * catalog fixture). */
  def s2RectCoverFromBbox(bbox: DataFrame, level: Int,
                          latticeSamples: Int = 9): DataFrame =
    bbox.select(col("doc_id"),
      explode(graft.functions.S2RectCover.column(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"),
        level, latticeSamples)).as("cell_id"))

  /** DuckDB mirror of [[geomCellCoverS2Rect]] — same bbox arithmetic, same
    * per-corner face/uv CASE chains (CTE-staged), same StEps-guarded st
    * indices, same three-way branch split as the kernel (single-face hull /
    * exact 45°-piece multi-face hull / polar lattice), UNION ALL of the
    * branches. */
  def geomCellCoverS2RectSql(table: String, grid: GridRef, level: Int,
                             samples: Int = 9): String =
    s2RectCoverSqlFromBbox(geomBboxSql(table, grid), level, samples)

  /** The three-branch S2 rect-cover SQL over ANY
    * (doc_id, lon_min, lon_max, lat_min, lat_max) source — the exact
    * machinery of [[geomCellCoverS2RectSql]] with the bbox head
    * parameterized (the multiface catalog query builds straddling boxes
    * directly in degrees). */
  def s2RectCoverSqlFromBbox(bboxSql: String, level: Int,
                             samples: Int = 9): String = {
    val d2r = graft.core.Projection.D2R
    // corner xyz (k = 1..4) in the same order as the kernel
    def xyzFor(cs: Seq[(String, String)]): String = cs.zipWithIndex.map {
      case ((lo, la), i) =>
        val k = i + 1
        s"""COS(($la) * $d2r) * COS(($lo) * $d2r) AS _sx$k,
           |COS(($la) * $d2r) * SIN(($lo) * $d2r) AS _sy$k,
           |SIN(($la) * $d2r) AS _sz$k""".stripMargin
    }.mkString(",\n")
    val xyz = xyzFor(Seq(("lon_min", "lat_min"), ("lon_max", "lat_min"),
                         ("lon_min", "lat_max"), ("lon_max", "lat_max")))
    val pxyz = xyzFor(Seq(("pa", "lat_min"), ("pb", "lat_min"),
                          ("pa", "lat_max"), ("pb", "lat_max")))
    def face(k: Int) =
      s"""CASE WHEN ABS(_sx$k) >= ABS(_sy$k) AND ABS(_sx$k) >= ABS(_sz$k)
         |         THEN CASE WHEN _sx$k > 0 THEN 0 ELSE 3 END
         |       WHEN ABS(_sy$k) >= ABS(_sz$k)
         |         THEN CASE WHEN _sy$k > 0 THEN 1 ELSE 4 END
         |       ELSE CASE WHEN _sz$k > 0 THEN 2 ELSE 5 END END""".stripMargin
    def u(k: Int) =
      s"""CASE _f$k WHEN 0 THEN _sy$k/_sx$k WHEN 3 THEN _sz$k/_sx$k
         |          WHEN 1 THEN -_sx$k/_sy$k WHEN 4 THEN _sz$k/_sy$k
         |          WHEN 2 THEN -_sx$k/_sz$k ELSE -_sy$k/_sz$k END""".stripMargin
    def v(k: Int) =
      s"""CASE _f$k WHEN 0 THEN _sz$k/_sx$k WHEN 3 THEN _sy$k/_sx$k
         |          WHEN 1 THEN _sz$k/_sy$k WHEN 4 THEN -_sx$k/_sy$k
         |          WHEN 2 THEN -_sy$k/_sz$k ELSE -_sx$k/_sz$k END""".stripMargin
    def st(e: String) =
      s"CASE WHEN $e >= 0 THEN 0.5*SQRT(1.0 + 3.0*($e)) ELSE 1.0 - 0.5*SQRT(1.0 - 3.0*($e)) END"
    val n = 1L << level
    def idx(e: String) =
      s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR(($e) * $n + ${Cells.StEpsSql}) AS BIGINT)))"
    val morton = (0 until level).flatMap { b =>
      Seq(s"((si & ${1L << b}) << $b)", s"((ti & ${1L << b}) << ${b + 1})")
    }.mkString(" | ")
    // fixed-face piece u/v + the polar-dominance gate (the kernel's
    // expectedFace branch — corner faces can tie onto a neighbour at exact
    // 45° boundaries, so the octant decides the face, not the corners)
    def pu(k: Int) =
      s"""CASE pf WHEN 0 THEN _sy$k/_sx$k WHEN 1 THEN -_sx$k/_sy$k
         |        WHEN 3 THEN _sz$k/_sx$k ELSE _sz$k/_sy$k END""".stripMargin
    def pv(k: Int) =
      s"""CASE pf WHEN 0 THEN _sz$k/_sx$k WHEN 1 THEN _sz$k/_sy$k
         |        WHEN 3 THEN _sy$k/_sx$k ELSE -_sx$k/_sy$k END""".stripMargin
    def pg(k: Int) =
      s"(ABS(CASE WHEN pf IN (0, 3) THEN _sx$k ELSE _sy$k END) >= ABS(_sz$k))"
    val k = (samples - 1).toDouble
    s"""WITH _b AS (
       |$bboxSql),
       |_bxyz AS (SELECT *, $xyz FROM _b),
       |_fc AS (SELECT *, ${(1 to 4).map(i => s"${face(i)} AS _f$i").mkString(", ")} FROM _bxyz),
       |_buv AS (SELECT *, ${(1 to 4).map(i => s"${u(i)} AS _u$i, ${v(i)} AS _v$i").mkString(", ")} FROM _fc),
       |_ann AS (SELECT doc_id, lon_min, lon_max, lat_min, lat_max, _f1 AS f,
       |    LEAST(_u1, _u2, _u3, _u4) AS u_lo, GREATEST(_u1, _u2, _u3, _u4) AS u_hi,
       |    LEAST(_v1, _v2, _v3, _v4) AS v_lo, GREATEST(_v1, _v2, _v3, _v4) AS v_hi,
       |    (_f2 = _f1 AND _f3 = _f1 AND _f4 = _f1
       |     AND FLOOR(lon_min / 90.0) = FLOOR(lon_max / 90.0)) AS ok
       |  FROM _buv),
       |_hullrng AS (
       |  SELECT doc_id, f, ${idx(st("u_lo"))} AS s0, ${idx(st("u_hi"))} AS s1,
       |         ${idx(st("v_lo"))} AS t0, ${idx(st("v_hi"))} AS t1
       |  FROM _ann WHERE ok),
       |_hs AS (SELECT doc_id, f, t0, t1, unnest(generate_series(s0, s1)) AS si FROM _hullrng),
       |_hc AS (SELECT doc_id, f, si, unnest(generate_series(t0, t1)) AS ti FROM _hs),
       |_hull AS (
       |  SELECT doc_id, (((CAST(f AS BIGINT) << ${2 * level}) | ($morton)) << 5) | $level AS cell_id
       |  FROM _hc),
       |_pk AS (
       |  SELECT doc_id, lon_min, lon_max, lat_min, lat_max,
       |    unnest(generate_series(CAST(FLOOR(lon_min / 45.0) AS BIGINT),
       |                           CAST(FLOOR(lon_max / 45.0) AS BIGINT))) AS pk
       |  FROM _ann
       |  WHERE NOT ok
       |    AND CAST(FLOOR(lon_max / 45.0) AS BIGINT)
       |        - CAST(FLOOR(lon_min / 45.0) AS BIGINT) <= 8
       |    AND lon_min >= -180.0 AND lon_max <= 180.0),
       |_pab AS (
       |  SELECT doc_id, pk, lat_min, lat_max,
       |    GREATEST(lon_min, pk * 45.0) AS pa, LEAST(lon_max, (pk + 1) * 45.0) AS pb
       |  FROM _pk),
       |_pxyz AS (SELECT *, $pxyz FROM _pab WHERE pa < pb),
       |_pfc AS (SELECT *,
       |  CASE ((pk % 8) + 8) % 8 WHEN 0 THEN 0 WHEN 7 THEN 0
       |       WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 3 WHEN 4 THEN 3
       |       ELSE 4 END AS pf
       |  FROM _pxyz),
       |_puv AS (SELECT *, ${(1 to 4).map(i => s"${pu(i)} AS _u$i, ${pv(i)} AS _v$i, ${pg(i)} AS _g$i").mkString(", ")} FROM _pfc),
       |_pann AS (SELECT doc_id, pf AS f,
       |    LEAST(_u1, _u2, _u3, _u4) AS u_lo, GREATEST(_u1, _u2, _u3, _u4) AS u_hi,
       |    LEAST(_v1, _v2, _v3, _v4) AS v_lo, GREATEST(_v1, _v2, _v3, _v4) AS v_hi,
       |    (_g1 AND _g2 AND _g3 AND _g4) AS pok
       |  FROM _puv),
       |_okdocs AS (SELECT doc_id FROM _pann GROUP BY doc_id HAVING BOOL_AND(pok)),
       |_prng AS (
       |  SELECT p.doc_id, p.f, ${idx(st("p.u_lo"))} AS s0, ${idx(st("p.u_hi"))} AS s1,
       |         ${idx(st("p.v_lo"))} AS t0, ${idx(st("p.v_hi"))} AS t1
       |  FROM _pann p JOIN _okdocs d ON p.doc_id = d.doc_id),
       |_ps AS (SELECT doc_id, f, t0, t1, unnest(generate_series(s0, s1)) AS si FROM _prng),
       |_pc2 AS (SELECT doc_id, f, si, unnest(generate_series(t0, t1)) AS ti FROM _ps),
       |_mhull AS (
       |  SELECT DISTINCT doc_id,
       |    (((CAST(f AS BIGINT) << ${2 * level}) | ($morton)) << 5) | $level AS cell_id
       |  FROM _pc2),
       |_latt AS (
       |  SELECT DISTINCT doc_id, cell_id FROM (
       |    ${Cells.s2CellIdSql(
                s"""SELECT doc_id,
                   |  lon_min + (lon_max - lon_min) * (CAST(i.i AS DOUBLE) / $k) AS lon,
                   |  lat_min + (lat_max - lat_min) * (CAST(j.j AS DOUBLE) / $k) AS lat
                   |FROM (SELECT * FROM _ann WHERE NOT ok
                   |      AND doc_id NOT IN (SELECT doc_id FROM _okdocs)) b,
                   |     generate_series(0, ${samples - 1}) i(i),
                   |     generate_series(0, ${samples - 1}) j(j)""".stripMargin,
                "lon", "lat", level, Seq("doc_id"))}))
       |SELECT doc_id, cell_id FROM _hull
       |UNION ALL SELECT doc_id, cell_id FROM _mhull
       |UNION ALL SELECT doc_id, cell_id FROM _latt
       |ORDER BY doc_id, cell_id""".stripMargin
  }

  /** H3-style hex cell cover of each doc geometry bbox (the north_rule's
    * "H3 (res 7-12) ... cell covers for every geometry"): one static kernel
    * call per doc (functions.HexRectCover) + one explode. The kernel takes
    * the candidate axial range from the bbox corners' float axial hull
    * widened by ±0.67 axial units (an intersecting hexagon's centre lies
    * within 2/3 axial units of the hull), then keeps the candidates that
    * pass the EXACT hexagon-vs-rectangle separating-axis test on 5 axes:
    * world x/y plus the hexagon's three edge normals. Each covering cell is
    * emitted exactly once, no sampling, no distinct. */
  def geomCellCoverHex(docsSpans: DataFrame, grid: GridRef, res: Int): DataFrame =
    hexCoverFromBbox(geomBbox(docsSpans, grid), res)

  private def hexCoverFromBbox(bbox: DataFrame, res: Int): DataFrame =
    bbox.select(col("doc_id"),
      explode(graft.functions.HexRectCover.column(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"), res)).as("cell_id"))

  /** DuckDB mirror of [[geomCellCoverHex]]: the kernel's candidate range and
    * SAT filter as CTEs, in the kernel's op order. */
  def geomCellCoverHexSql(table: String, grid: GridRef, res: Int): String = {
    val sz = Hex.size(res)
    val co = Hex.cosT(res); val si = Hex.sinT(res)
    val sq3 = math.sqrt(3.0)
    // axial float of a (lonE, latE) in the res frame
    def d(v: Double): String = WarpOps.dlit(v)
    def qf(lonE: String, latE: String): String = {
      val x = s"(${d(co)} * ($lonE) + ${d(si)} * ($latE))"
      val y = s"(-${d(si)} * ($lonE) + ${d(co)} * ($latE))"
      s"((${d(sq3 / 3.0)} * $x - ${d(1.0 / 3.0)} * $y) / ${d(sz)})"
    }
    def rf(lonE: String, latE: String): String = {
      val y = s"(-${d(si)} * ($lonE) + ${d(co)} * ($latE))"
      s"((${d(2.0 / 3.0)} * $y) / ${d(sz)})"
    }
    val cc = Seq(("lon_min", "lat_min"), ("lon_max", "lat_min"),
                 ("lon_min", "lat_max"), ("lon_max", "lat_max"))
    val qfs = cc.map { case (lo, la) => qf(lo, la) }
    val rfs = cc.map { case (lo, la) => rf(lo, la) }
    val sepN = Hex.normalAngles(res).map { a =>
      val ux = math.cos(a); val uy = math.sin(a)
      s"(ABS(_dx * ${d(ux)} + _dy * ${d(uy)}) > ${d(Hex.apothem(res))} + hw * ${d(math.abs(ux))} + hh * ${d(math.abs(uy))})"
    }
    val bias = 1L << 28
    s"""WITH _b AS (${geomBboxSql(table, grid)}),
       |_rng AS (
       |  SELECT doc_id,
       |    (lon_min + lon_max) / 2.0 AS rcx, (lat_min + lat_max) / 2.0 AS rcy,
       |    (lon_max - lon_min) / 2.0 AS hw, (lat_max - lat_min) / 2.0 AS hh,
       |    CAST(CEIL(LEAST(${qfs.mkString(", ")}) - 0.67) AS BIGINT) AS q0,
       |    CAST(FLOOR(GREATEST(${qfs.mkString(", ")}) + 0.67) AS BIGINT) AS q1,
       |    CAST(CEIL(LEAST(${rfs.mkString(", ")}) - 0.67) AS BIGINT) AS r0,
       |    CAST(FLOOR(GREATEST(${rfs.mkString(", ")}) + 0.67) AS BIGINT) AS r1
       |  FROM _b),
       |_cq AS (SELECT *, unnest(generate_series(q0, q1)) AS hq FROM _rng),
       |_cr AS (SELECT *, unnest(generate_series(r0, r1)) AS hr FROM _cq),
       |_ctr AS (SELECT *,
       |    ${d(co)} * (${d(sz)} * (${d(sq3)} * hq + ${d(sq3 / 2.0)} * hr)) - ${d(si)} * (${d(sz)} * (1.5 * hr)) AS _hcx,
       |    ${d(si)} * (${d(sz)} * (${d(sq3)} * hq + ${d(sq3 / 2.0)} * hr)) + ${d(co)} * (${d(sz)} * (1.5 * hr)) AS _hcy
       |  FROM _cr),
       |_d AS (SELECT *, _hcx - rcx AS _dx, _hcy - rcy AS _dy FROM _ctr)
       |SELECT doc_id,
       |  (((hq + $bias) << 29) | (hr + $bias)) << 5 | $res AS cell_id
       |FROM _d
       |WHERE NOT ((ABS(_dx) > ${d(Hex.supportX(res))} + hw)
       |        OR (ABS(_dy) > ${d(Hex.supportY(res))} + hh)
       |        OR ${sepN.mkString(" OR ")})
       |ORDER BY doc_id, cell_id""".stripMargin
  }

  // ---- the doc x tile spatial join ----------------------------------------

  /** One DGGS family of the doc x tile join: `cover` maps a (doc_id,
    * lon_min, lon_max, lat_min, lat_max) frame to (doc_id, cell_id), and
    * `cellOf` is the scalar cell of one lon/lat point, bit-identical to the
    * family's Column form. */
  final case class CellFamily(cover: DataFrame => DataFrame,
                              cellOf: (Double, Double) => Long)

  object CellFamily {
    def quad(level: Int): CellFamily =
      CellFamily(quadCoverFromBbox(_, level), Cells.cellId(_, _, level))
    def s2(level: Int): CellFamily =
      CellFamily(s2RectCoverFromBbox(_, level), Cells.s2CellId(_, _, level))
    def hex(res: Int): CellFamily =
      CellFamily(hexCoverFromBbox(_, res), Hex.cellId(_, _, res))
  }

  /** lon/lat of the centre pixel of tile `id` of the grid's TileGridN x
    * TileGridN split, through the scalar twin of WarpOps.inverseColumns. */
  def tileCentre(grid: GridRef, id: Int): (Double, Double) = {
    val tilePx = grid.width / TileGridN
    val prow = (id / TileGridN * tilePx).toDouble + tilePx / 2.0
    val pcol = (id % TileGridN * tilePx).toDouble + tilePx / 2.0
    val t = grid.transform
    WarpOps.inverse(grid.crs, t.a * pcol + t.c, t.e * prow + t.f)
  }

  /** The tile side of the join, (tile_id, cell_id) of every tile centre. It
    * is a constant of (grid, family), so it is evaluated here on the driver
    * and ships with the plan as a LocalRelation: the tile side needs no
    * Spark plan or generated code of its own. */
  def tileCells(spark: SparkSession, grid: GridRef, family: CellFamily): DataFrame = {
    import spark.implicits._
    (0 until TileGridN * TileGridN).map { id =>
      val (lon, lat) = tileCentre(grid, id)
      (id.toLong, family.cellOf(lon, lat))
    }.toDF("tile_id", "cell_id")
  }

  /** The spatial doc x tile join shared by every cell family: the docs'
    * geometry bbox, the family's cover exploded over it, and a broadcast
    * equi-join on cell_id against the driver-built tile side ->
    * (doc_id, tile_id, cell_id). The rows are already unique: cover cells
    * are unique per doc and each tile has exactly one centre cell, so the
    * join output flows straight into downstream aggregates. The join stays
    * a plain equi-join, so without the hint (both sides large, pre-bucketed
    * by Hilbert ranges of cell_id at corpus scale) Catalyst plans it as a
    * sort-merge join. */
  def spatialJoin(docsSpans: DataFrame, grid: GridRef, family: CellFamily): DataFrame =
    family.cover(geomBbox(docsSpans, grid))
      .join(broadcast(tileCells(docsSpans.sparkSession, grid, family)), "cell_id")
      .select("doc_id", "tile_id", "cell_id")

  /** Quadtree doc x tile join (the flagship). */
  def spatialTileAssignments(docsSpans: DataFrame, grid: GridRef, level: Int): DataFrame =
    spatialJoin(docsSpans, grid, CellFamily.quad(level))

  /** S2 doc x tile join over the st-rect kernel cover. */
  def spatialTileAssignmentsS2(docsSpans: DataFrame, grid: GridRef, level: Int): DataFrame =
    spatialJoin(docsSpans, grid, CellFamily.s2(level))

  /** Hex doc x tile join over the H3-style cover (the north_rule's "H3 cell
    * covers ... inside a broadcast-or-sort-merge spatial join"). */
  def spatialTileAssignmentsHex(docsSpans: DataFrame, grid: GridRef, res: Int): DataFrame =
    spatialJoin(docsSpans, grid, CellFamily.hex(res))

  /** DuckDB mirror of [[tileCentre]]: (tid, lon, lat) of every tile. */
  private def tileCentresSql(grid: GridRef): String = {
    val t = grid.transform
    val tilePx = grid.width / TileGridN
    val pr = s"(CAST(tid // $TileGridN AS DOUBLE) * $tilePx + ${tilePx / 2.0})"
    val pc = s"(CAST(tid % $TileGridN AS DOUBLE) * $tilePx + ${tilePx / 2.0})"
    val (lon, lat) = inverseSql(grid, s"(${t.a} * $pc + ${t.c})", s"(${t.e} * $pr + ${t.f})")
    s"""SELECT tid, $lon AS lon, $lat AS lat
       |FROM (SELECT CAST(i AS BIGINT) AS tid
       |      FROM generate_series(0, ${TileGridN * TileGridN - 1}) t(i))""".stripMargin
  }

  /** DuckDB mirror of [[spatialJoin]] over a cover and a (tile_id, cell_id)
    * tile table. */
  private def spatialJoinSql(coverSql: String, tilesSql: String): String =
    s"""WITH cover AS ($coverSql),
       |tiles AS ($tilesSql)
       |SELECT c.doc_id, t.tile_id, c.cell_id
       |FROM cover c JOIN tiles t ON c.cell_id = t.cell_id
       |ORDER BY 1, 2, 3""".stripMargin

  def spatialTileAssignmentsSql(table: String, grid: GridRef, level: Int): String =
    spatialJoinSql(geomCellCoverSql(table, grid, level),
      s"""SELECT tid AS tile_id, ${Cells.cellIdSql("lon", "lat", level)} AS cell_id
         |FROM (${tileCentresSql(grid)})""".stripMargin)

  def spatialTileAssignmentsS2Sql(table: String, grid: GridRef, level: Int): String =
    spatialJoinSql(geomCellCoverS2RectSql(table, grid, level),
      s"""SELECT tid AS tile_id, cell_id FROM (
         |  ${Cells.s2CellIdSql(tileCentresSql(grid), "lon", "lat", level, Seq("tid"))})""".stripMargin)

  def spatialTileAssignmentsHexSql(table: String, grid: GridRef, res: Int): String =
    spatialJoinSql(geomCellCoverHexSql(table, grid, res),
      s"""SELECT tid AS tile_id, cell_id FROM (
         |  ${Hex.cellIdSql(tileCentresSql(grid), "lon", "lat", res, Seq("tid"))})""".stripMargin)
}
