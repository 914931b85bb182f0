package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** geoparse_mentions(text) → array<struct<lat,lon,kind,name>>.
  *
  * One compiled pass per row wrapping the scalar parser
  * (graft.core.Geoparse). DataFrame results are parity-equal to
  * Geoparse.parse BY CONSTRUCTION (same function), which is the invariant
  * the pipeline tests pin.
  */
object GeoparseExprHelper {
  val mentionType: StructType = StructType(Seq(
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("name", StringType, nullable = false)))

  /** Every kind tag and gazetteer name, encoded once. */
  private val utf8: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]
    (Seq("labeled", "geouri", "pair", "gazetteer", "") ++
        graft.core.Gazetteer.entries.map(_._1))
      .foreach(s => m.put(s, UTF8String.fromString(s)))
    m
  }

  private def utf8Of(s: String): UTF8String = {
    val u = utf8.get(s)
    if (u != null) u else UTF8String.fromString(s)
  }

  def mentions(text: UTF8String): ArrayData = {
    val ms = graft.core.Geoparse.parse(text.toString)
    val rows = new Array[Any](ms.length)
    val it = ms.iterator
    var i = 0
    while (it.hasNext) {
      val m = it.next()
      rows(i) = InternalRow(m.lat, m.lon, utf8Of(m.kind), utf8Of(m.name))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

case class GeoparseMentionsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(GeoparseExprHelper.mentionType, containsNull = false)
  override def prettyName: String = "geoparse_mentions"
  override protected def nullSafeEval(s: Any): Any =
    GeoparseExprHelper.mentions(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.GeoparseExprHelper.mentions($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

object geoparse {
  import org.apache.spark.sql.GraftBridge.{column, expression}
  def geoparse_mentions(text: Column): Column =
    column(GeoparseMentionsExpr(expression(text)))
}
