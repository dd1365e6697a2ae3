package graft.functions

import graft.core.Hex
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The H3-style hex cover of a lon/lat bbox in ONE static kernel call (the
  * S2RectCover pattern).
  *
  * The Column formulation exploded the candidate axial range and filtered it
  * with the separating-axis test over (rcx, rcy, hw, hh). Spark infers
  * isnotnull constraints from that filter and pushes them through the bbox
  * projections, which inlined the interpreted span lookup of the bbox head
  * 49 times into the executed plan. The kernel leaves no filter over bbox
  * columns in the plan.
  *
  * Arithmetic is the scalar mirror of DocOps.geomCellCoverHexSql, op for op:
  * the corners' float axial hull widened by ±0.67 axial units gives the
  * candidate range (an intersecting hexagon's centre lies within 2/3 axial
  * units of the hull; 0.67 adds fp slack, and the range always holds an
  * integer), and a candidate is kept unless one of 5 axes separates it from
  * the rect: world x/y and the hexagon's three edge normals. */
case class HexRectCover(lonMin: Expression, latMin: Expression,
                        lonMax: Expression, latMax: Expression, res: Int)
    extends QuaternaryExpression {

  override def first: Expression = lonMin
  override def second: Expression = latMin
  override def third: Expression = lonMax
  override def fourth: Expression = latMax

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    HexRectCover.cells(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.HexRectCover.cells($a, $b, $c, $d, $res)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): HexRectCover =
    copy(lonMin = f, latMin = s, lonMax = t, latMax = q)

  override def prettyName: String = "hex_rect_cover"
}

object HexRectCover {

  private val Sq3 = math.sqrt(3.0)
  private val Bias = 1L << 28

  /** Per-res literals, computed once (the same values the SQL twin prints). */
  private final class Consts(res: Int) {
    val co: Double = Hex.cosT(res)
    val si: Double = Hex.sinT(res)
    val sz: Double = Hex.size(res)
    val supX: Double = Hex.supportX(res)
    val supY: Double = Hex.supportY(res)
    val apothem: Double = Hex.apothem(res)
    private val normals = Hex.normalAngles(res)
    val ux: Array[Double] = normals.map(math.cos).toArray
    val uy: Array[Double] = normals.map(math.sin).toArray
    val aux: Array[Double] = ux.map(math.abs)
    val auy: Array[Double] = uy.map(math.abs)
  }
  private val consts = Array.tabulate(Hex.MaxRes + 1)(new Consts(_))

  def cells(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
            res: Int): ArrayData = {
    val k = consts(res)
    val co = k.co; val si = k.si; val sz = k.sz
    val rcx = (lonMin + lonMax) / 2.0
    val rcy = (latMin + latMax) / 2.0
    val hw = (lonMax - lonMin) / 2.0
    val hh = (latMax - latMin) / 2.0
    // float axial hull of the four corners
    var qLo = Double.PositiveInfinity; var qHi = Double.NegativeInfinity
    var rLo = Double.PositiveInfinity; var rHi = Double.NegativeInfinity
    var c = 0
    while (c < 4) {
      val lon = if ((c & 1) == 0) lonMin else lonMax
      val lat = if (c < 2) latMin else latMax
      val x = co * lon + si * lat
      val y = -si * lon + co * lat
      val qf = (Sq3 / 3.0 * x - 1.0 / 3.0 * y) / sz
      val rf = (2.0 / 3.0 * y) / sz
      qLo = math.min(qLo, qf); qHi = math.max(qHi, qf)
      rLo = math.min(rLo, rf); rHi = math.max(rHi, rf)
      c += 1
    }
    val q0 = math.ceil(qLo - 0.67).toLong; val q1 = math.floor(qHi + 0.67).toLong
    val r0 = math.ceil(rLo - 0.67).toLong; val r1 = math.floor(rHi + 0.67).toLong
    val out = new Array[Long](((q1 - q0 + 1) * (r1 - r0 + 1)).toInt)
    var n = 0
    var hq = q0
    while (hq <= q1) {
      var hr = r0
      while (hr <= r1) {
        val lx = sz * (Sq3 * hq + Sq3 / 2.0 * hr)
        val ly = sz * (1.5 * hr)
        val dx = (co * lx - si * ly) - rcx
        val dy = (si * lx + co * ly) - rcy
        var separated = math.abs(dx) > k.supX + hw || math.abs(dy) > k.supY + hh
        var a = 0
        while (!separated && a < 3) {
          separated = math.abs(dx * k.ux(a) + dy * k.uy(a)) >
            k.apothem + hw * k.aux(a) + hh * k.auy(a)
          a += 1
        }
        if (!separated) {
          out(n) = (((hq + Bias) << 29) | (hr + Bias)) << 5 | res.toLong
          n += 1
        }
        hr += 1
      }
      hq += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOf(out, n))
  }

  def column(lonMin: Column, latMin: Column, lonMax: Column, latMax: Column,
             res: Int): Column =
    GraftSqlBridge.column(HexRectCover(
      GraftSqlBridge.expression(lonMin), GraftSqlBridge.expression(latMin),
      GraftSqlBridge.expression(lonMax), GraftSqlBridge.expression(latMax), res))
}
