package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for embedding dot products — the operator
  * Spark lacks for vector workloads (SURVEY.md §7.3 escalation path (b)).
  *
  * The built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * allocates an intermediate array per row and runs the lambdas
  * interpreted (higher-order functions have no codegen), which measured
  * ~20× slower than a fused loop at bench scale. This expression
  * generates a single Java loop inside whole-stage codegen: no
  * allocation, no virtual calls.
  *
  * Semantics contract (shared with the DuckDB oracles): elements promote
  * to double, products accumulate LEFT TO RIGHT — bit-identical to the
  * zip_with/aggregate fold and to DuckDB's list_dot_product on
  * well-formed inputs. Malformed vectors FAIL FAST with a descriptive
  * error instead of a silent answer: a length mismatch or a null
  * element is corrupt data that should stop a pipeline, not truncate
  * the accumulation or leak a bogus score (DuckDB's list_dot_product
  * errors on mismatched lengths too; the fold would yield NULL). The
  * per-element null check is emitted ONLY when the array type admits
  * nulls — schemas with containsNull=false keep the branch-free loop.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => other
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
        if Set[DataType](FloatType, DoubleType).contains(lt) && lt == rt =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"dot_product expects two arrays of float or two arrays of double, " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def containsNulls: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"dot_product: array length mismatch (${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    val checkNulls = containsNulls
    var acc = 0.0
    var i = 0
    elemType(left) match {
      case FloatType =>
        while (i < n) {
          if (checkNulls && (x.isNullAt(i) || y.isNullAt(i)))
            throw new IllegalArgumentException(s"dot_product: null element at index $i")
          acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
        }
      case _ =>
        while (i < n) {
          if (checkNulls && (x.isNullAt(i) || y.isNullAt(i)))
            throw new IllegalArgumentException(s"dot_product: null element at index $i")
          acc += x.getDouble(i) * y.getDouble(i); i += 1
        }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val get = elemType(left) match {
        case FloatType => (arr: String) => s"(double)$arr.getFloat($i)"
        case _ => (arr: String) => s"$arr.getDouble($i)"
      }
      val nullCheck = if (containsNulls)
        s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |  throw new IllegalArgumentException("dot_product: null element at index " + $i);
           |}""".stripMargin
      else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("dot_product: array length mismatch ("
         |    + $a.numElements() + " vs " + $b.numElements() + ")");
         |}
         |int $n = $a.numElements();
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  ${ev.value}Acc += ${get(a)} * ${get(b)};
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Register graft's vector functions on a session that lacks them. The
    * public Column API can't wrap a raw Expression in Spark 4
    * (ExpressionUtils is private[sql]), so exposure goes through the
    * function registry + call_function. A session built with
    * GraftExtensions already has `dot_product`; replacing it would be a
    * registry write and a WARN line per call, so a present function is
    * left as it is.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("dot_product")))
      registry.createOrReplaceTempFunction(
        "dot_product", exprs => DotProduct(exprs.head, exprs(1)), "scala_udf")
  }

  /** dot_product as a Column. Registers on the active session first
    * (idempotent, cheap) so callers can use it standalone; analysis
    * happens later on that same session. */
  def dotProduct(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("dot_product", a, b)
  }
}
