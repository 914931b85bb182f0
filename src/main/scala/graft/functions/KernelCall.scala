package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `name(children)` → `resultType`: ONE static call
  * `target.method(children ++ consts)` into a pure-Scala kernel, the
  * Spark-idiomatic replacement for the reference's vectorized NumPy
  * column kernels (BASELINE.json north_star: "a codegen'd batched UDF").
  *
  * The optimizer swaps it for Spark's own `StaticInvoke` (the call its
  * encoders generate), which is codegen'd inside whole-stage codegen and
  * reflective when interpreted: the kernel call is written once, for
  * both modes. Types convert in only two places (PLANS.md "Kernel
  * calls"): a string argument goes in as `String`; a `String` result
  * comes back through `UTF8String.fromString` and a primitive-array
  * result through `UnsafeArrayData.fromPrimitiveArray`. Everything else
  * passes through unchanged, so kernels over `ArrayData` keep it.
  *
  * `consts` (int parameters, object tables as `Literal.fromObject`) ride
  * after the children and stay out of the column name, which reads
  * `name(children)`. A null child gives null; `returnNullable` marks a
  * kernel that returns a boxed value and may itself return null.
  */
case class KernelCall(name: String, target: Class[_], method: String,
                      resultType: DataType, children: Seq[Expression],
                      consts: Seq[Literal] = Nil,
                      returnNullable: Boolean = false)
    extends RuntimeReplaceable {
  override def prettyName: String = name
  // read from the fields, so asking never builds the replacement, which
  // needs the children's types
  override def dataType: DataType = resultType
  override def nullable: Boolean = returnNullable || children.exists(_.nullable)
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

  override lazy val replacement: Expression = {
    val args = (children ++ consts).map(a => a.dataType match {
      case _: StringType =>
        Invoke(a, "toString", ObjectType(classOf[String]), returnNullable = false)
      case _ => a
    })
    def call(jvmType: DataType): Expression =
      StaticInvoke(target, jvmType, method, args, returnNullable = returnNullable)
    resultType match {
      case _: StringType =>
        StaticInvoke(classOf[UTF8String], resultType, "fromString",
          Seq(call(ObjectType(classOf[String]))), returnNullable = false)
      case ArrayType(et, false) if KernelCall.PrimitiveArrays.contains(et) =>
        StaticInvoke(classOf[UnsafeArrayData], resultType, "fromPrimitiveArray",
          Seq(call(ObjectType(KernelCall.PrimitiveArrays(et)))), returnNullable = false)
      case _ => call(resultType)
    }
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(children = c)
}

object KernelCall {
  private val PrimitiveArrays: Map[DataType, Class[_]] = Map(
    IntegerType -> classOf[Array[Int]], LongType -> classOf[Array[Long]],
    FloatType -> classOf[Array[Float]], DoubleType -> classOf[Array[Double]])

  def arrayOf(t: DataType): ArrayType = ArrayType(t, containsNull = false)
  val Longs: ArrayType = arrayOf(LongType)
  val Doubles: ArrayType = arrayOf(DoubleType)

  /** The column `name(args)`, computed by the static `method` of the
    * Scala object `target`.
    */
  def call(name: String, target: AnyRef, method: String, resultType: DataType,
           args: Seq[Column], consts: Seq[Literal] = Nil,
           returnNullable: Boolean = false): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(KernelCall(name, target.getClass, method, resultType,
      args.map(expression), consts, returnNullable))
  }
}
