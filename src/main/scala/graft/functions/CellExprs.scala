package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types._

/** Codegen'd batched cell-encode expressions (BASELINE.json north_star:
  * "encodes each derived point/polygon into H3 (res 0-12) and S2 cell IDs
  * via a codegen'd batched UDF"; SURVEY.md §4.2). Each expression emits a
  * static call into the pure-Scala cell math, so it stays inside
  * whole-stage codegen — no closure, no serialization, no boxing — the
  * Spark-idiomatic replacement for the reference's vectorized NumPy column
  * kernels (reference: mvt/matrix.py passim).
  */
abstract class GeoTernaryExpression extends TernaryExpression
    with Serializable {
  override def nullable: Boolean = first.nullable || second.nullable || third.nullable
}

/** s2_cell(lat, lon, level) → Long — exact S2 cell id. */
case class S2CellIdExpr(first: Expression, second: Expression, third: Expression)
    extends GeoTernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "s2_cell"
  override protected def nullSafeEval(lat: Any, lon: Any, level: Any): Any =
    graft.core.S2.cellId(lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, lvl) =>
      s"graft.core.S2.cellId($lat, $lon, $lvl)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** hex_cell(lon, lat, res) → Long — H3-style aperture-7 hex cell id. */
case class HexCellExpr(first: Expression, second: Expression, third: Expression)
    extends GeoTernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_cell"
  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    graft.core.HexGrid.cell(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, res) =>
      s"graft.core.HexGrid.cell($lon, $lat, $res)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** tile_id(lon, lat, zoom) → Long — packed (zoom, x, y) slippy tile id. */
case class TileIdExpr(first: Expression, second: Expression, third: Expression)
    extends GeoTernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "tile_id"
  override protected def nullSafeEval(lon: Any, lat: Any, zoom: Any): Any = {
    val z = zoom.asInstanceOf[Int]
    graft.core.WebMercator.tileId(z,
      graft.core.WebMercator.tileX(lon.asInstanceOf[Double], z),
      graft.core.WebMercator.tileY(lat.asInstanceOf[Double], z))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, z) =>
      s"graft.core.WebMercator.tileId($z, graft.core.WebMercator.tileX($lon, $z), " +
        s"graft.core.WebMercator.tileY($lat, $z))")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** hex_wkt(cell) → String — hex-cell boundary as a WKT polygon (the
  * vectorize output path, kept codegen'd like every other kernel).
  */
case class HexWktExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "hex_wkt"
  override protected def nullSafeEval(cell: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.core.HexGrid.boundaryWkt(cell.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.core.HexGrid.boundaryWkt($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** geohash(lon, lat, precision) → String — base32 geohash (public
  * spec), the prefix-range-scan cell key next to S2/hex. */
case class GeohashExpr(first: Expression, second: Expression, third: Expression)
    extends GeoTernaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "geohash"
  override protected def nullSafeEval(lon: Any, lat: Any, p: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.core.Geohash.encode(lon.asInstanceOf[Double],
        lat.asInstanceOf[Double], p.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, p) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.core.Geohash.encode($lon, $lat, $p))")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Column-level API + SQL registration. */
/** ring_stats(xs, ys) → array<double> [signed_area, centroid_x,
  * centroid_y, perimeter] — one codegen'd pass over a closed ring's
  * vertex arrays (shoelace + area-weighted centroid + perimeter).
  */
case class RingStatsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "ring_stats"
  override protected def nullSafeEval(xs: Any, ys: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.GeoKernels.ringStats(
        xs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
        ys.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, ys) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.core.GeoKernels.ringStats($xs.toDoubleArray(), $ys.toDoubleArray()))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Ring arguments of [[ClipAreaExpr]] and [[ConvexSatExpr]]: a ring
  * array with a null or NaN element reads as null, so the expression
  * yields null instead of reading a null slot as 0.0 or letting NaN
  * (which fails every comparison) make every SAT pair intersect.
  */
object RingArgs {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def doubles(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i)
      if (java.lang.Double.isNaN(v)) return null
      out(i) = v
      i += 1
    }
    out
  }

  /** Interpreted path: `kernel` over the four rings, null if any is. */
  def eval(ax: Any, ay: Any, bx: Any, by: Any)(
      kernel: (Array[Double], Array[Double], Array[Double], Array[Double]) => Any): Any = {
    val rs = Array(ax, ay, bx, by).map(a => doubles(a.asInstanceOf[ArrayData]))
    if (rs.contains(null)) null else kernel(rs(0), rs(1), rs(2), rs(3))
  }

  /** Generated path: the static `kernel` over the four rings, null if
    * any is.
    */
  def genCode(ctx: CodegenContext, ev: ExprCode, kernel: String,
              args: Seq[String]): String = {
    val rs = args.map(_ => ctx.freshName("ring"))
    val reads = rs.zip(args).map { case (r, a) =>
      s"double[] $r = graft.functions.RingArgs.doubles($a);" }
    s"""${reads.mkString("\n")}
       |if (${rs.map(_ + " == null").mkString(" || ")}) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $kernel(${rs.mkString(", ")});
       |}""".stripMargin
  }
}

/** clip_area(axs, ays, bxs, bys) → Double — intersection area of two
  * convex rings (Sutherland–Hodgman clip + shoelace, core/ConvexClip).
  * Stays in whole-stage codegen via a static kernel call, like every
  * other geometry kernel here. Null or NaN input gives null
  * ([[RingArgs]]).
  */
case class ClipAreaExpr(first: Expression, second: Expression,
                        third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "clip_area"
  override protected def nullSafeEval(ax: Any, ay: Any, bx: Any, by: Any): Any =
    RingArgs.eval(ax, ay, bx, by)(graft.core.ConvexClip.intersectionArea)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ax, ay, bx, by) => RingArgs.genCode(ctx, ev,
      "graft.core.ConvexClip.intersectionArea", Seq(ax, ay, bx, by)))
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(f, s, t, q)
}

/** convex_sat(axs, ays, bxs, bys) → Boolean — exact closed intersection
  * of two convex rings (separating-axis test, core/ConvexSat): a
  * constant-size codegen footprint where a Column-tree SAT grows O(n²)
  * nodes with ring width. Null or NaN input gives null ([[RingArgs]]).
  */
case class ConvexSatExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "convex_sat"
  override protected def nullSafeEval(ax: Any, ay: Any, bx: Any, by: Any): Any =
    RingArgs.eval(ax, ay, bx, by)(graft.core.ConvexSat.intersects)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ax, ay, bx, by) => RingArgs.genCode(ctx, ev,
      "graft.core.ConvexSat.intersects", Seq(ax, ay, bx, by)))
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(f, s, t, q)
}

object geo {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  def s2_cell(lat: Column, lon: Column, level: Column): Column =
    column(S2CellIdExpr(expression(lat), expression(lon), expression(level)))
  def hex_cell(lon: Column, lat: Column, res: Column): Column =
    column(HexCellExpr(expression(lon), expression(lat), expression(res)))
  def tile_id(lon: Column, lat: Column, zoom: Column): Column =
    column(TileIdExpr(expression(lon), expression(lat), expression(zoom)))
  def hex_wkt(cell: Column): Column = column(HexWktExpr(expression(cell)))
  def geohash(lon: Column, lat: Column, precision: Column): Column =
    column(GeohashExpr(expression(lon), expression(lat), expression(precision)))
  def ring_stats(xs: Column, ys: Column): Column =
    column(RingStatsExpr(expression(xs), expression(ys)))
  def clip_area(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    column(ClipAreaExpr(expression(axs), expression(ays),
      expression(bxs), expression(bys)))
  def convex_sat(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    column(ConvexSatExpr(expression(axs), expression(ays),
      expression(bxs), expression(bys)))
}
