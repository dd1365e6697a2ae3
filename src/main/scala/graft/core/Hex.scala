package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** H3-style hexagonal cell index (the north_rule's "H3 (res 7-12)" family;
  * reference analog: the cell covers rioxarray users build for spatial
  * joins).
  *
  * A from-scratch aperture-7 hex DGGS, simplified to a planar lon/lat
  * projection (production would project per cube face like the S2 family in
  * [[Cells]]; the planar form keeps every arithmetic step expressible in
  * lockstep across scalar / Catalyst Column / DuckDB SQL — same discipline
  * as the quadtree and S2 indices):
  *
  *  - resolution r has pointy-top hexes of circumradius R0/sqrt(7)^r
  *    rotated by r*atan(sqrt(3)/5) — the aperture-7 geometry that gives H3
  *    its ~7x area refinement and inter-resolution rotation.
  *  - point -> cell: rotate into the res frame, axial coords
  *    (q = (sqrt(3)/3 x - 1/3 y)/s, r = (2/3 y)/s), cube-round with
  *    half-up rounding (floor(v + 0.5) — deterministic and identical in
  *    Spark and DuckDB, unlike banker's/away-from-zero ROUND).
  *  - id layout: (((q + 2^28) << 29) | (r + 2^28)) << 5 | res  (63 bits).
  *  - parent: cell-centre containment at the coarser res (H3's own
  *    parenting is the same approximate containment).
  *  - kRing: axial hex ring |dq|<=k, |dr|<=k, |dq+dr|<=k — the uniform
  *    6-neighbour adjacency that makes hex rings the natural kNN probe
  *    shape.
  *
  * All hot-path forms (Column, SQL) are built from codegen'd builtins only;
  * rotation constants are per-resolution literals computed once driver-side. */
object Hex {

  val MaxRes = 15
  /** res-0 circumradius in degrees. */
  val R0 = 15.0
  /** aperture-7 inter-resolution rotation: atan(sqrt(3)/5) (H3's class
    * II->III skew), applied cumulatively per res. */
  val Alpha: Double = math.atan(math.sqrt(3.0) / 5.0)
  private val Bias = 1L << 28

  /** circumradius at res. */
  def size(res: Int): Double = R0 / math.pow(math.sqrt(7.0), res)
  def cosT(res: Int): Double = math.cos(res * Alpha)
  def sinT(res: Int): Double = math.sin(res * Alpha)

  private val Sq3 = math.sqrt(3.0)

  // ---- scalar ------------------------------------------------------------

  /** Axial (q, r) of a lon/lat point at res (cube-rounded). */
  def axial(lon: Double, lat: Double, res: Int): (Long, Long) = {
    val c = cosT(res); val s = sinT(res)
    val x = c * lon + s * lat
    val y = -s * lon + c * lat
    val sz = size(res)
    val qf = (Sq3 / 3.0 * x - 1.0 / 3.0 * y) / sz
    val rf = (2.0 / 3.0 * y) / sz
    cubeRound(qf, rf)
  }

  /** Standard cube rounding with deterministic half-up component rounds. */
  def cubeRound(qf: Double, rf: Double): (Long, Long) = {
    val xf = qf; val zf = rf; val yf = -xf - zf
    var rx = math.floor(xf + 0.5); var ry = math.floor(yf + 0.5); var rz = math.floor(zf + 0.5)
    val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    (rx.toLong, rz.toLong)
  }

  def cellId(lon: Double, lat: Double, res: Int): Long = {
    val (q, r) = axial(lon, lat, res)
    pack(q, r, res)
  }

  def pack(q: Long, r: Long, res: Int): Long = {
    require(math.abs(q) < Bias && math.abs(r) < Bias, s"axial out of range ($q,$r)")
    (((q + Bias) << 29) | (r + Bias)) << 5 | res.toLong
  }

  def res(id: Long): Int = (id & 31L).toInt
  def q(id: Long): Long = ((id >>> 5) >>> 29) - Bias
  def r(id: Long): Long = ((id >>> 5) & ((1L << 29) - 1)) - Bias

  /** Cell centre in lon/lat (inverse axial + inverse rotation). */
  def center(id: Long): (Double, Double) = {
    val rs = res(id); val sz = size(rs)
    val x = sz * (Sq3 * q(id) + Sq3 / 2.0 * r(id))
    val y = sz * (1.5 * r(id))
    val c = cosT(rs); val s = sinT(rs)
    (c * x - s * y, s * x + c * y)
  }

  /** Parent at a coarser res by centre containment (H3 semantics: children
    * only approximately nest; the centre's cell IS the canonical parent). */
  def parent(id: Long, parentRes: Int): Long = {
    require(parentRes <= res(id), s"parent res $parentRes > cell res ${res(id)}")
    val (lon, lat) = center(id)
    cellId(lon, lat, parentRes)
  }

  /** All cells within hex distance k (the (3k^2+3k+1)-cell H3 kRing). */
  def kRing(id: Long, k: Int): Seq[Long] = {
    val rs = res(id); val q0 = q(id); val r0 = r(id)
    for {
      dq <- -k to k; dr <- math.max(-k, -dq - k) to math.min(k, -dq + k)
    } yield pack(q0 + dq, r0 + dr, rs)
  }

  /** Hex grid distance between two same-res cells. */
  def distance(a: Long, b: Long): Long = {
    require(res(a) == res(b))
    val dq = q(a) - q(b); val dr = r(a) - r(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  // ---- Catalyst columns (codegen builtins only) --------------------------

  private def roundHalfUp(c: Column): Column = floor(c + 0.5d)

  def cellIdColumn(lon: Column, lat: Column, resN: Int): Column = {
    val co = lit(cosT(resN)); val si = lit(sinT(resN))
    val x = co * lon + si * lat
    val y = (-si) * lon + co * lat
    val sz = size(resN)
    val qf = (lit(Sq3 / 3.0) * x - lit(1.0 / 3.0) * y) / sz
    val rf = (lit(2.0 / 3.0) * y) / sz
    val xf = qf; val zf = rf; val yf = -xf - zf
    val rx = roundHalfUp(xf); val ry = roundHalfUp(yf); val rz = roundHalfUp(zf)
    val dx = abs(rx - xf); val dy = abs(ry - yf); val dz = abs(rz - zf)
    val qq = when(dx > dy && dx > dz, -ry - rz).otherwise(rx).cast("long")
    val rr = when(!(dx > dy && dx > dz) && !(dy > dz), -rx - ry)
      .otherwise(rz).cast("long")
    // rr must see the same branch priority as the scalar: z only adjusts
    // when neither x nor y won
    shiftleft(shiftleft(qq + Bias, 29).bitwiseOR(rr + Bias), 5)
      .bitwiseOR(lit(resN.toLong))
  }

  /** DataFrame-staged hex cell id — identical arithmetic to
    * [[cellIdColumn]] with every sub-expression computed once through
    * chained Projects (the Cells.withS2CellId pattern: the single-Column
    * form re-inlines the qf/rf trees into each cube-round branch, and the
    * resulting ~2 MB task binary is re-deserialized per task of the
    * consuming stage). Bit-identical per row; only expression sharing
    * differs. */
  def withCellId(df: org.apache.spark.sql.DataFrame, lon: Column, lat: Column,
                 resN: Int, out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val keep = df.columns.toSeq
    val staging = Set("_qf", "_rf", "_yf", "_rx", "_ry", "_rz",
      "_dx", "_dy", "_dz", "_qq", "_rr", out)
    require(!keep.exists(staging.contains),
      s"withCellId staging/output column collision: ${keep.filter(staging.contains).mkString(",")}")
    def cols(ns: Seq[String]): Seq[Column] = ns.map(col)
    val co = lit(cosT(resN)); val si = lit(sinT(resN))
    val x = co * lon + si * lat
    val y = (-si) * lon + co * lat
    val sz = size(resN)
    val s0 = df.select(cols(keep) ++ Seq(
      ((lit(Sq3 / 3.0) * x - lit(1.0 / 3.0) * y) / sz).as("_qf"),
      ((lit(2.0 / 3.0) * y) / sz).as("_rf")): _*)
    // _yf staged with the cellIdColumn's exact op order (-xf - zf), so the
    // fp value feeding the round and the d-comparisons is bit-identical
    val s1 = s0.select(cols(keep ++ Seq("_qf", "_rf")) :+
      (-col("_qf") - col("_rf")).as("_yf"): _*)
    val xf = col("_qf"); val zf = col("_rf"); val yf = col("_yf")
    val s2 = s1.select(cols(keep ++ Seq("_qf", "_rf", "_yf")) ++ Seq(
      roundHalfUp(xf).as("_rx"), roundHalfUp(yf).as("_ry"),
      roundHalfUp(zf).as("_rz")): _*)
    val dx = abs(col("_rx") - xf); val dy = abs(col("_ry") - yf)
    val dz = abs(col("_rz") - zf)
    val s3 = s2.select(cols(keep ++ Seq("_rx", "_ry", "_rz")) ++ Seq(
      dx.as("_dx"), dy.as("_dy"), dz.as("_dz")): _*)
    val qq = when(col("_dx") > col("_dy") && col("_dx") > col("_dz"),
      -col("_ry") - col("_rz")).otherwise(col("_rx")).cast("long")
    val rr = when(!(col("_dx") > col("_dy") && col("_dx") > col("_dz")) &&
        !(col("_dy") > col("_dz")), -col("_rx") - col("_ry"))
      .otherwise(col("_rz")).cast("long")
    val s4 = s3.select(cols(keep) ++ Seq(qq.as("_qq"), rr.as("_rr")): _*)
    val id = shiftleft(shiftleft(col("_qq") + Bias, 29).bitwiseOR(col("_rr") + Bias), 5)
      .bitwiseOR(lit(resN.toLong))
    s4.select(cols(keep) :+ id.as(out): _*)
  }

  // ---- hex-vs-rect cover support (SAT; functions.HexRectCover) ----------

  /** Hexagon support radius along the world x / y axes (max |vertex
    * component| in the rotated frame) — per-res constants for the SAT
    * axis tests. Pointy-top vertices sit at local angles 90° + k*60°. */
  def supportX(resN: Int): Double =
    (0 until 6).map(k => math.abs(math.cos(math.toRadians(90.0 + 60.0 * k) + resN * Alpha))).max * size(resN)
  def supportY(resN: Int): Double =
    (0 until 6).map(k => math.abs(math.sin(math.toRadians(90.0 + 60.0 * k) + resN * Alpha))).max * size(resN)
  /** Apothem (support along the hexagon's own edge normals). */
  def apothem(resN: Int): Double = size(resN) * Sq3 / 2.0
  /** World angles of the three edge-normal axes. */
  def normalAngles(resN: Int): Seq[Double] =
    Seq(0.0, 60.0, 120.0).map(a => math.toRadians(a) + resN * Alpha)

  /** DuckDB mirror of [[cellIdColumn]] as a CTE chain over `srcSql` (same
    * literals via Double.toString, same op order, same half-up floor). */
  def cellIdSql(srcSql: String, lonE: String, latE: String, resN: Int,
                outCols: Seq[String]): String = {
    val co = cosT(resN); val si = sinT(resN)
    val sz = size(resN)
    s"""WITH _hsrc AS ($srcSql),
       |_hxy AS (SELECT *, $co * ($lonE) + $si * ($latE) AS _hx,
       |                -($si) * ($lonE) + $co * ($latE) AS _hy FROM _hsrc),
       |_hqr AS (SELECT *, (${Sq3 / 3.0} * _hx - ${1.0 / 3.0} * _hy) / $sz AS _hqf,
       |                (${2.0 / 3.0} * _hy) / $sz AS _hrf FROM _hxy),
       |_hcube AS (SELECT *, _hqf AS _hxf, (-_hqf - _hrf) AS _hyf, _hrf AS _hzf,
       |                FLOOR(_hqf + 0.5) AS _hrx,
       |                FLOOR((-_hqf - _hrf) + 0.5) AS _hry,
       |                FLOOR(_hrf + 0.5) AS _hrz FROM _hqr),
       |_hd AS (SELECT *, ABS(_hrx - _hxf) AS _hdx, ABS(_hry - _hyf) AS _hdy,
       |               ABS(_hrz - _hzf) AS _hdz FROM _hcube),
       |_hfix AS (SELECT *,
       |    CAST(CASE WHEN _hdx > _hdy AND _hdx > _hdz THEN -_hry - _hrz
       |              ELSE _hrx END AS BIGINT) AS _hq,
       |    CAST(CASE WHEN NOT (_hdx > _hdy AND _hdx > _hdz) AND NOT (_hdy > _hdz)
       |              THEN -_hrx - _hry ELSE _hrz END AS BIGINT) AS _hr
       |  FROM _hd)
       |SELECT ${outCols.mkString(", ")},
       |  (((_hq + $Bias) << 29) | (_hr + $Bias)) << 5 | $resN AS cell_id
       |FROM _hfix""".stripMargin
  }
}
