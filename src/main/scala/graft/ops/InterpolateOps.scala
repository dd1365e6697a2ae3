package graft.ops

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** interpolate_na (nearest) — fill nodata pixels with the value of the
  * nearest valid pixel (the reference's scipy.griddata 'nearest' path,
  * raster_array.py:863-966). Distance is squared pixel distance (exact
  * integer arithmetic), ties broken by (row, col) — deterministic and
  * mirrored in the SQL oracle.
  *
  * Distributed shape: valid pixels are bucketed on a BxB pixel grid; each
  * missing pixel probes its 3x3 bucket ring via an equi-join. A winner at
  * distance <= B is provably global (any pixel outside the ring is at
  * Chebyshev distance >= B+1, so its d2 > B^2 — ties included). Pixels not
  * settled at B escalate to bucket 2B, 4B, ... (log rounds, each a plain
  * equi-join over the geometrically-shrinking remainder), so EVERY missing
  * pixel fills — matching the reference's scipy.griddata, which interpolates
  * the whole grid (raster_array.py:895-915) — without ever paying a
  * cross-join. The linear variant below uses the same distributed shape
  * with a documented deterministic triangulation; cubic stays excluded
  * with cause (SURVEY §7.4). */
object InterpolateOps {

  def interpolateNaNearest(r: Raster, bucket: Int = 4): Raster = {
    val nodata = r.grid.nodata.toLong
    val maxDim = math.max(r.grid.width, r.grid.height)
    val validBase = r.df.filter(col("value") =!= nodata)
      .select(col("row").as("v_row"), col("col").as("v_col"), col("value").as("v_value"))
    // r6: ONE upfront scan computes both guard counts — the previous
    // validBase.isEmpty probe plus the loop-entry remaining.count() were
    // two separate jobs over the same source (guide §1: at this scale the
    // loop cost is job latency)
    val cnt = r.df.agg(
      count(when(col("value") =!= nodata, 1)).as("v"),
      count(when(col("value") === nodata, 1)).as("m")).head()
    // all-nodata: nothing to interpolate from; the oracle (valid UNION
    // filled) is empty on this input, so return the empty frame with the
    // normal output schema rather than the untouched input
    if (cnt.getLong(0) == 0L)
      return Raster(r.df.filter(col("value") =!= nodata), r.grid)

    val ringOffsets = array((-1 to 1).flatMap(dr => (-1 to 1).map(dc =>
      struct(lit(dr.toLong).as("dr"), lit(dc.toLong).as("dc")))): _*)

    def round(remaining: DataFrame, b: Int): (DataFrame, DataFrame) = {
      val valid = validBase
        .withColumn("b_r", expr(s"v_row div $b"))
        .withColumn("b_c", expr(s"v_col div $b"))
      val probes = remaining
        .withColumn("m_br", expr(s"row div $b"))
        .withColumn("m_bc", expr(s"col div $b"))
        .select(col("*"), explode(ringOffsets).as("o"))
        .withColumn("b_r", col("m_br") + col("o.dr"))
        .withColumn("b_c", col("m_bc") + col("o.dc"))
        .drop("o", "m_br", "m_bc")
      val cand = probes.join(valid, Seq("b_r", "b_c"))
        .withColumn("d2", (col("row") - col("v_row")) * (col("row") - col("v_row")) +
                          (col("col") - col("v_col")) * (col("col") - col("v_col")))
      val w = Window.partitionBy("row", "col").orderBy(col("d2"), col("v_row"), col("v_col"))
      val winners = cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      // b >= maxDim: every pixel is in bucket (0,0), the ring saw ALL valid
      // pixels, so the winner is global regardless of distance.
      // r6: the settled frame has TWO consumers that execute in DIFFERENT
      // jobs — the round's anti-join count and the caller's final action on
      // the accumulated fills — and by the time the final action runs, the
      // round's `remaining` cache has been dropped, so the whole ring join
      // + window re-executed from scratch (observed: the final count's job
      // repeated every round's join). Persist the narrow winner projection
      // (one bounded row per settled pixel). The blocks stay cached after
      // the query until someone unpersists them.
      val settled =
        (if (b >= maxDim) winners
         else winners.filter(col("d2") <= b.toLong * b))
          .select(col("row"), col("col"), col("x"), col("y"), col("v_value"))
          .persist()
      val filled = settled.select(col("row"), col("col"), col("x"), col("y"),
                                  col("v_value").as("value"))
      val unsettled = remaining.join(
        settled.select("row", "col"), Seq("row", "col"), "left_anti")
      (filled, unsettled)
    }

    var remaining = r.df.filter(col("value") === nodata)
      .select(col("row"), col("col"), col("x"), col("y")).persist()
    // r6: the loop-entry count comes from the shared guard scan above; the
    // persisted remainder materializes lazily inside round 1's own jobs.
    // Per-round counts ride the materializing count() action (the old
    // per-round isEmpty probes were one extra Spark job each).
    var remainingN = cnt.getLong(1)
    var out = r.df.filter(col("value") =!= nodata)
    var b = bucket
    while (remainingN > 0) {
      val (filled, unsettled) = round(remaining, b)
      val next = unsettled.persist()
      val nextN = next.count() // materialize before unpersisting the parent
      out = out.unionByName(filled)
      remaining.unpersist()
      remaining = next
      remainingN = nextN
      b = math.min(b.toLong * 2, maxDim.toLong).toInt max 1
    }
    remaining.unpersist()
    Raster(out, r.grid)
  }

  // ---- linear (deterministic local triangulation) -------------------------

  /** interpolate_na (linear) — the reference's scipy.griddata 'linear' path
    * (raster_array.py:863-966: Delaunay + barycentric, `fill_value=nodata`
    * outside the convex hull) re-expressed with a DOCUMENTED DETERMINISTIC
    * triangulation, because Qhull's Delaunay is not reproducible on
    * cocircular point sets — and a raster's valid pixels are a lattice, so
    * every local quad is cocircular and the scipy result is
    * tie-break-dependent by construction (SURVEY §7.4). The variant:
    *
    *  1. For each missing pixel p, find the nearest valid pixel in each of
    *     the four closed quadrants around it (NW: row<=, col<=; NE: row<=,
    *     col>; SW: row>, col<=; SE: row>, col>), ties broken by
    *     (d2, v_row, v_col) — all integer arithmetic, exact.
    *  2. Split the quad NW→NE→SE→SW along the FIXED NW–SE diagonal into
    *     triangles T1=(NW,NE,SE), T2=(NW,SE,SW), tested in that fixed
    *     order. This is the deterministic resolution of exactly the tie
    *     Qhull breaks arbitrarily: for an isolated missing pixel the four
    *     axis neighbours form a cocircular diamond and scipy returns
    *     (N+S)/2 or (E+W)/2 depending on insertion order; here the NW–SE
    *     rule always selects the triangle pair whose shared edge passes
    *     through p's column, i.e. (N+S)/2.
    *  3. If p lies in T1 (orientation-consistent integer sign tests —
    *     exact, no epsilon), barycentric-interpolate in T1; else if in T2,
    *     in T2; else the pixel keeps nodata — the convex-hull analog
    *     (scipy's `fill_value`). Degenerate (collinear) triangles are never
    *     used.
    *
    * Where it agrees with scipy: interior holes whose containing Delaunay
    * triangle is the local quad (the common raster case), up to scipy's own
    * cocircular ambiguity, which this rule fixes. Where it diverges: scipy
    * triangulates GLOBALLY, so across wide irregular holes its triangles
    * can differ from the local quad, and adjacent pixels here may use
    * different local quads (the interpolant is per-pixel local, not a
    * single global triangulation). Both divergences are inherent to
    * demanding a reproducible, distributable interpolant.
    *
    * Bit-exactness across engines is BY CONSTRUCTION, not by mirroring:
    * the sign tests and barycentric weights are integer (Long/BIGINT)
    * determinants over pixel indices, and the one floating-point step —
    * (wA*vA + wB*vB + wC*vC)/denom — is exact integer arithmetic in
    * doubles (|w|<2^34, |v|<2^14 ⇒ every product and sum below 2^53)
    * followed by a single correctly-rounded IEEE division.
    *
    * Distributed shape: same escalating 3x3 bucket-ring equi-join as
    * [[interpolateNaNearest]], at (pixel, quadrant) granularity — a
    * quadrant winner at d2 <= b² is provably global (any candidate outside
    * the ring is at Chebyshev >= b+1), unresolved quadrants escalate to
    * 2b, 4b, …, and at b >= maxDim the ring has seen every valid pixel so
    * emptiness of a quadrant is proven. Log rounds, never a cross join. */
  def interpolateNaLinear(r: Raster, bucket: Int = 4): Raster = {
    val nodata = r.grid.nodata
    val nd = nodata.toLong
    val maxDim = math.max(r.grid.width, r.grid.height)
    val validBase = r.df.filter(col("value") =!= nd)
      .select(col("row").as("v_row"), col("col").as("v_col"), col("value").as("v_value"))
    // all-nodata: nothing to interpolate from, but keep the double-typed
    // value column every other path (and the SQL mirror) produces
    if (validBase.isEmpty)
      return Raster(r.df.withColumn("value", col("value").cast("double")), r.grid)
    val missing = r.df.filter(col("value") === nd).select("row", "col", "x", "y")

    val ringOffsets = array((-1 to 1).flatMap(dr => (-1 to 1).map(dc =>
      struct(lit(dr.toLong).as("dr"), lit(dc.toLong).as("dc")))): _*)

    // Quadrant-emptiness pre-filter (dominance): NW(r,c) is nonempty iff
    // some valid pixel dominates it — min over rows <= r of that row's min
    // valid col is <= c (and symmetrically for the other three). Computed
    // from per-ROW extremes (grid-height rows, not pixels) with four
    // running-extreme windows, it prunes provably-empty (pixel, quadrant)
    // work UP FRONT: without it, every hull-edge quadrant escalates the
    // ring search all the way to maxDim just to PROVE emptiness, which
    // made empty-quadrant proof the dominant round count. The windows are
    // per-raster (partition by raster id when frames carry several).
    val spark = r.df.sparkSession
    val rowStats = validBase.groupBy(col("v_row").as("rr"))
      .agg(min("v_col").as("mn"), max("v_col").as("mx"))
    val allRows = spark.range(r.grid.height).select(col("id").as("rr"))
      .join(rowStats, Seq("rr"), "left")
    val wUp = Window.orderBy(col("rr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = Window.orderBy(col("rr").desc)
      .rowsBetween(Window.unboundedPreceding, -1) // strictly below rr
    val dom = allRows.select(col("rr"),
      min("mn").over(wUp).as("up_min"), max("mx").over(wUp).as("up_max"),
      min("mn").over(wDn).as("dn_min"), max("mx").over(wDn).as("dn_max"))
    val quadNonempty =
      (col("quad") === 0 && col("up_min").isNotNull && col("up_min") <= col("col")) ||
      (col("quad") === 1 && col("up_max").isNotNull && col("up_max") >  col("col")) ||
      (col("quad") === 2 && col("dn_min").isNotNull && col("dn_min") <= col("col")) ||
      (col("quad") === 3 && col("dn_max").isNotNull && col("dn_max") >  col("col"))

    // (pixel, quadrant) escalation: quad 0=NW 1=NE 2=SW 3=SE; only
    // nonempty quadrants enter (each is then guaranteed to settle at
    // b >= its neighbor distance, so the loop drains without the
    // prove-empty final round)
    var remaining = missing.select(col("row"), col("col"))
      .withColumn("quad", explode(array((0 to 3).map(q => lit(q)): _*)))
      .join(broadcast(dom), col("row") === col("rr"))
      .filter(quadNonempty)
      .select("row", "col", "quad")
      .persist()
    var winners: DataFrame = null
    var b = bucket max 1
    var done = false
    while (!done) {
      val last = b >= maxDim
      val valid = validBase
        .withColumn("b_r", expr(s"v_row div $b"))
        .withColumn("b_c", expr(s"v_col div $b"))
      val probes = remaining
        .withColumn("m_br", expr(s"row div $b"))
        .withColumn("m_bc", expr(s"col div $b"))
        .select(col("*"), explode(ringOffsets).as("o"))
        .withColumn("b_r", col("m_br") + col("o.dr"))
        .withColumn("b_c", col("m_bc") + col("o.dc"))
        .drop("o", "m_br", "m_bc")
      val inQuad =
        (col("quad") === 0 && col("v_row") <= col("row") && col("v_col") <= col("col")) ||
        (col("quad") === 1 && col("v_row") <= col("row") && col("v_col") >  col("col")) ||
        (col("quad") === 2 && col("v_row") >  col("row") && col("v_col") <= col("col")) ||
        (col("quad") === 3 && col("v_row") >  col("row") && col("v_col") >  col("col"))
      val cand = probes.join(valid, Seq("b_r", "b_c")).filter(inQuad)
        .withColumn("d2", (col("row") - col("v_row")) * (col("row") - col("v_row")) +
                          (col("col") - col("v_col")) * (col("col") - col("v_col")))
      val w = Window.partitionBy("row", "col", "quad")
        .orderBy(col("d2"), col("v_row"), col("v_col"))
      val win = cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      val settled = if (last) win else win.filter(col("d2") <= b.toLong * b)
      // r6: in a non-final round this frame has two consumers in different
      // jobs (the escalation's anti-join count now, the final action's
      // quadrant pivot later), and the later one re-executed the whole
      // ring join + window because the round's `remaining` cache is gone
      // by then — persist the narrow winner rows (the count below
      // materializes them; the blocks stay cached after the query until
      // someone unpersists them). The final round has a single consumer
      // and needs no cache.
      val newWinners = {
        val nw = settled.select("row", "col", "quad", "v_row", "v_col", "v_value")
        if (last) nw else nw.persist()
      }
      winners = if (winners == null) newWinners else winners.unionByName(newWinners)
      if (last) done = true
      else {
        // anti-join through the PERSISTED winner frame (not `settled`
        // directly): the count below then materializes the cache the final
        // action reads, instead of executing the join subtree a second time
        val next = remaining.join(newWinners.select("row", "col", "quad"),
          Seq("row", "col", "quad"), "left_anti").persist()
        // r6: emptiness from the materializing count itself (the separate
        // isEmpty probe was one more job per escalation round)
        val nextN = next.count() // materialize before unpersisting the parent
        remaining.unpersist()
        remaining = next
        if (nextN == 0L) done = true
        b = math.min(b.toLong * 2, maxDim.toLong).toInt max 1
      }
    }
    remaining.unpersist()

    // pivot the <=4 quadrant winners per pixel into one row
    val quads = Seq("nw" -> 0, "ne" -> 1, "sw" -> 2, "se" -> 3)
    val aggs = quads.flatMap { case (n, q) => Seq(
      max(when(col("quad") === q, col("v_row"))).as(s"${n}_r"),
      max(when(col("quad") === q, col("v_col"))).as(s"${n}_c"),
      max(when(col("quad") === q, col("v_value"))).as(s"${n}_v")) }
    val qp = winners.groupBy("row", "col").agg(aggs.head, aggs.tail: _*)

    // integer orientation determinant over (col=x, row=y) pixel indices
    def orient(ac: Column, ar: Column, bc: Column, br: Column,
               cc: Column, cr: Column): Column =
      (bc - ac) * (cr - ar) - (br - ar) * (cc - ac)
    def c2(n: String): Column = col(s"${n}_c")
    def r2(n: String): Column = col(s"${n}_r")
    def v2(n: String): Column = col(s"${n}_v")
    val pc = col("col"); val pr = col("row")

    def triangle(n1: String, n2: String, n3: String): (Column, Column) = {
      val den = orient(c2(n1), r2(n1), c2(n2), r2(n2), c2(n3), r2(n3))
      val wa = orient(pc, pr, c2(n2), r2(n2), c2(n3), r2(n3))
      val wb = orient(c2(n1), r2(n1), pc, pr, c2(n3), r2(n3))
      val wc = orient(c2(n1), r2(n1), c2(n2), r2(n2), pc, pr)
      val present = r2(n1).isNotNull && r2(n2).isNotNull && r2(n3).isNotNull
      val inside = present && den =!= 0L &&
        ((den > 0L && wa >= 0L && wb >= 0L && wc >= 0L) ||
         (den < 0L && wa <= 0L && wb <= 0L && wc <= 0L))
      val value = (wa.cast("double") * v2(n1).cast("double") +
                   wb.cast("double") * v2(n2).cast("double") +
                   wc.cast("double") * v2(n3).cast("double")) / den.cast("double")
      (inside, value)
    }
    val (in1, val1) = triangle("nw", "ne", "se")
    val (in2, val2) = triangle("nw", "se", "sw")

    val interp = missing.join(qp, Seq("row", "col"), "left")
      .withColumn("value",
        when(in1, val1).when(in2, val2).otherwise(lit(nodata)))
      .select("row", "col", "x", "y", "value")
    val out = r.df.filter(col("value") =!= nd)
      .select(col("row"), col("col"), col("x"), col("y"),
              col("value").cast("double").as("value"))
      .unionByName(interp)
    Raster(out, r.grid)
  }

  /** SQL oracle for [[interpolateNaLinear]]: brute-force quadrant-nearest
    * over all valid pixels, then the same integer barycentric formulas.
    * Exact by the same argument (integer determinants + one correctly-
    * rounded division), so no literal-text mirroring is load-bearing. */
  def interpolateNaLinearSql(srcSql: String, g: GridRef): String = {
    val nodata = g.nodata.toLong
    val ndLit = g.nodata.toString
    val quadE = "CASE WHEN v.v_row <= m.row THEN CASE WHEN v.v_col <= m.col THEN 0 ELSE 1 END " +
                "ELSE CASE WHEN v.v_col <= m.col THEN 2 ELSE 3 END END"
    def orient(a: (String, String), bq: (String, String), cq: (String, String)): String =
      s"((${bq._1}) - (${a._1})) * ((${cq._2}) - (${a._2})) - " +
      s"((${bq._2}) - (${a._2})) * ((${cq._1}) - (${a._1}))"
    def pt(n: String): (String, String) = (s"${n}_c", s"${n}_r")
    val p = ("col", "row")
    def tri(n1: String, n2: String, n3: String): String = {
      val den = orient(pt(n1), pt(n2), pt(n3))
      val wa = orient(p, pt(n2), pt(n3))
      val wb = orient(pt(n1), p, pt(n3))
      val wc = orient(pt(n1), pt(n2), p)
      s"""WHEN ${n1}_r IS NOT NULL AND ${n2}_r IS NOT NULL AND ${n3}_r IS NOT NULL
         |    AND ($den) <> 0
         |    AND ((($den) > 0 AND ($wa) >= 0 AND ($wb) >= 0 AND ($wc) >= 0)
         |      OR (($den) < 0 AND ($wa) <= 0 AND ($wb) <= 0 AND ($wc) <= 0))
         |  THEN (CAST($wa AS DOUBLE) * CAST(${n1}_v AS DOUBLE)
         |      + CAST($wb AS DOUBLE) * CAST(${n2}_v AS DOUBLE)
         |      + CAST($wc AS DOUBLE) * CAST(${n3}_v AS DOUBLE)) / CAST($den AS DOUBLE)""".stripMargin
    }
    s"""WITH px AS ($srcSql),
       |valid AS (SELECT row AS v_row, col AS v_col, value AS v_value
       |          FROM px WHERE value <> $nodata),
       |missing AS (SELECT row, col, x, y FROM px WHERE value = $nodata),
       |cand AS (
       |  SELECT m.row, m.col, v.v_row, v.v_col, v.v_value,
       |    $quadE AS quad,
       |    row_number() OVER (PARTITION BY m.row, m.col, $quadE
       |      ORDER BY (m.row - v.v_row) * (m.row - v.v_row)
       |             + (m.col - v.v_col) * (m.col - v.v_col), v.v_row, v.v_col) AS rk
       |  FROM missing m, valid v),
       |qp AS (
       |  SELECT row, col,
       |    max(CASE WHEN quad = 0 THEN v_row END) AS nw_r,
       |    max(CASE WHEN quad = 0 THEN v_col END) AS nw_c,
       |    max(CASE WHEN quad = 0 THEN v_value END) AS nw_v,
       |    max(CASE WHEN quad = 1 THEN v_row END) AS ne_r,
       |    max(CASE WHEN quad = 1 THEN v_col END) AS ne_c,
       |    max(CASE WHEN quad = 1 THEN v_value END) AS ne_v,
       |    max(CASE WHEN quad = 2 THEN v_row END) AS sw_r,
       |    max(CASE WHEN quad = 2 THEN v_col END) AS sw_c,
       |    max(CASE WHEN quad = 2 THEN v_value END) AS sw_v,
       |    max(CASE WHEN quad = 3 THEN v_row END) AS se_r,
       |    max(CASE WHEN quad = 3 THEN v_col END) AS se_c,
       |    max(CASE WHEN quad = 3 THEN v_value END) AS se_v
       |  FROM cand WHERE rk = 1 GROUP BY row, col),
       |interp AS (
       |  SELECT m.row, m.col, m.x, m.y,
       |    CASE ${tri("nw", "ne", "se")}
       |         ${tri("nw", "se", "sw")}
       |         ELSE $ndLit END AS value
       |  FROM missing m LEFT JOIN qp USING (row, col))
       |SELECT row, col, x, y, CAST(value AS DOUBLE) AS value
       |FROM px WHERE value <> $nodata
       |UNION ALL
       |SELECT row, col, x, y, value FROM interp
       |ORDER BY row, col""".stripMargin
  }

  /** SQL oracle: brute-force nearest over all valid pixels (exact). */
  def interpolateNaSql(srcSql: String, g: GridRef): String = {
    val nodata = g.nodata.toLong
    s"""WITH px AS ($srcSql),
       |valid AS (SELECT row AS v_row, col AS v_col, value AS v_value
       |          FROM px WHERE value <> $nodata),
       |missing AS (SELECT row, col, x, y FROM px WHERE value = $nodata),
       |cand AS (
       |  SELECT m.row, m.col, m.x, m.y, v.v_value,
       |    row_number() OVER (PARTITION BY m.row, m.col
       |      ORDER BY (m.row - v.v_row) * (m.row - v.v_row)
       |             + (m.col - v.v_col) * (m.col - v.v_col), v.v_row, v.v_col) AS rk
       |  FROM missing m, valid v)
       |SELECT row, col, x, y, value FROM px WHERE value <> $nodata
       |UNION ALL
       |SELECT row, col, x, y, v_value AS value FROM cand WHERE rk = 1
       |ORDER BY row, col""".stripMargin
  }
}
