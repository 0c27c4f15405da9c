package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The one Catalyst expression behind every native function: a call of
  * the static Scala kernel `kernel.method` on the column inputs
  * (`children`).
  *
  * The kernel's parameters are, in order: one per input, in Spark's
  * internal form (`UTF8String`, `ArrayData`, `byte[]`, `int`); one
  * `isFloat` flag per [[NativeCall.Vec]] input, read off its resolved
  * type (true for `array<float>`, false for `array<double>`); then
  * `consts`, the Column-build-time constants (ints, arrays, sets).
  *
  * At analysis every input is checked against its declared types
  * (array element nullability ignored, an untyped NULL accepted): a
  * mismatch fails with DATATYPE_MISMATCH, never an implicit cast. The
  * optimizer then replaces the call with Spark's `StaticInvoke`, which
  * does both interpreted eval and whole-stage codegen: a NULL input
  * gives NULL, and the result is nullable exactly when an input is.
  */
case class NativeCall(
    name: String,
    kernel: Class[_],
    method: String,
    resultType: DataType,
    inputTypes: Seq[Seq[DataType]],
    consts: Seq[Literal],
    children: Seq[Expression])
  extends RuntimeReplaceable {

  override def prettyName: String = name

  override def toString: String = s"$name(${children.mkString(", ")})"

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(inputTypes).zipWithIndex.collectFirst {
      case ((c, accepted), i) if c.dataType != NullType &&
          !accepted.exists(DataType.equalsStructurally(_, c.dataType, ignoreNullability = true)) =>
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> NativeCall.ordinal(i),
          "requiredType" -> accepted.map(t => s""""${t.sql}"""").mkString(" or "),
          "inputSql" -> s""""${c.sql}"""",
          "inputType" -> s""""${c.dataType.sql}""""))
    }.getOrElse(TypeCheckSuccess)

  override lazy val replacement: Expression =
    if (children.exists(_.dataType == NullType)) Literal(null, resultType)
    else {
      val floatFlags = children.zip(inputTypes).collect { case (c, NativeCall.Vec) =>
        Literal(c.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
      }
      StaticInvoke(kernel, resultType, method, children ++ floatFlags ++ consts,
        returnNullable = false)
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

object NativeCall {
  val Str: Seq[DataType] = Seq(StringType)
  val Strs: Seq[DataType] = Seq(ArrayType(StringType))
  val Longs: Seq[DataType] = Seq(ArrayType(LongType))
  val Vec: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  val Bytes: Seq[DataType] = Seq(BinaryType)
  val Int32: Seq[DataType] = Seq(IntegerType)

  /** A kernel constant as a literal: ints by value, anything else
    * (arrays, sets) as an object reference of its own class.
    */
  private[functions] def const(v: Any): Literal = v match {
    case i: Int => Literal(i)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }

  private def ordinal(i: Int): String =
    Seq("first", "second", "third").lift(i).getOrElse(s"${i + 1}th")
}
