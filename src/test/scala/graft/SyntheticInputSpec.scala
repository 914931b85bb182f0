package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The synthetic inputs that SparkEntry writes once as SQL text, for the
  * engine (expr/selectExpr) and the DuckDB oracle alike, stay binary-double
  * arithmetic in Spark: each keeps the column types of the Column builders
  * it replaced, and the only decimals in its analyzed plan are literals
  * cast straight to DOUBLE. A bare `360.0` would parse as DECIMAL and run
  * `floor(..) * 360.0` as decimal(25,1) — the Spark side of the DuckDB
  * decimal-literal trap.
  */
class SyntheticInputSpec extends AnyFunSuite {
  import SharedSpark._
  import SparkEntry._

  /** Decimal-typed expressions of the analyzed plan, literals under a
    * CAST to DOUBLE excepted.
    */
  private def decimals(df: DataFrame): Seq[String] = {
    def bad(e: Expression): Seq[String] = e match {
      case c: Cast if c.dataType == DoubleType && c.child.isInstanceOf[Literal] => Nil
      case _ =>
        (if (e.dataType.isInstanceOf[DecimalType]) Seq(e.sql) else Nil) ++
          e.children.flatMap(bad)
    }
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(bad))
  }

  private def types(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def check(df: DataFrame, want: (String, DataType)*): Unit = {
    assert(types(df) === want)
    assert(decimals(df).isEmpty, decimals(df).mkString("; "))
    assert(df.count() > 0)
  }

  // ids as parquet gives them: doc_id / event_id / user_id BIGINT
  private def ids = spark.range(0, 64).select(col("id").as("doc_id"),
    col("id").as("event_id"), (col("id") % 5).as("user_id"), col("id").as("seq"))

  private def points(id: String): DataFrame = {
    val (lon, lat) = derivedLonLatSql(id)
    ids.selectExpr("doc_id", s"$lon AS lon", s"$lat AS lat")
  }

  test("the detector sees a bare decimal literal") {
    assert(decimals(ids.selectExpr("floor(doc_id * 1.5) * 360.0 AS x")).nonEmpty)
    assert(decimals(ids.selectExpr(
      "floor(doc_id * CAST(1.5 AS DOUBLE)) * CAST(360.0 AS DOUBLE) AS x")).isEmpty)
  }

  test("derived points and the 8-blob transform are double pairs") {
    val pt = Seq("doc_id" -> LongType, "lon" -> DoubleType, "lat" -> DoubleType)
    check(points("doc_id"), pt: _*)
    check(points("event_id"), pt: _*)
    check(points("doc_id").selectExpr(blobPointCols: _*), pt: _*)
  }

  test("zigzag coordinates are doubles, grid cells are longs") {
    for (step <- Seq("seq", "(seq div 5)")) {
      val (lon, lat) = zigzagLonLatSql(step)
      check(ids.selectExpr("user_id", s"$lon AS lon", s"$lat AS lat"),
        "user_id" -> LongType, "lon" -> DoubleType, "lat" -> DoubleType)
    }
    for (deg <- Seq("10.0", "15.0"))
      check(points("doc_id").selectExpr(s"${gridCellSql(deg)} AS cell"),
        "cell" -> LongType)
  }

  test("overlay vertex lists build double arrays") {
    val arr = ArrayType(DoubleType, containsNull = true)
    for (v <- Seq(overlayTriangleVerts, overlayPolygonVerts)) {
      val (a, b) = overlaySets(points("doc_id"), v)
      check(a, "a_id" -> LongType, "ax" -> arr, "ay" -> arr)
      check(b, "b_id" -> LongType, "bx" -> arr, "by" -> arr)
    }
  }

  test("the URL synthesizer is a string") {
    check(ids.select(expr(synthUrlSql).as("url")), "url" -> StringType)
  }
}
