package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product over two array<float|double> columns —
  * SURVEY.md §2.11 preference order: a Catalyst Expression with doGenCode
  * beats zip_with+aggregate (no per-element lambda dispatch, no
  * intermediate array) and beats any UDF (no serialization wall).
  *
  * Semantics match `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
  * 0D, (acc,x) -> acc+x)`: left-to-right accumulation in double, length =
  * min(|a|, |b|), null if either side is null (BinaryExpression default).
  * Any null ELEMENT contributes 0 (training embeddings don't carry null
  * elements; explicit so behavior is defined).
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_dot needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: two VectorDot instances can land in ONE generated
      // projection (e.g. inline cosine = dot(q,v), dot(v,v)); fixed local
      // names would be a Janino "Redefinition of local variable" compile
      // error and a silent whole-projection fallback to interpreted eval.
      val n = ctx.freshName("vdN")
      val acc = ctx.freshName("vdAcc")
      val i = ctx.freshName("vdI")
      def get(arr: String, e: Expression) =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ${get(a, left)} * ${get(b, right)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** Session registration for graft's native expressions: once per
  * session. A name already registered is left as it is, so the many call
  * sites cost nothing after the first (and Spark logs no replacement). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    def once(name: String, build: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    once("vector_dot", e => VectorDot(e(0), e(1)))
    once("simhash64", e => SimHash64(e(0)))
  }
}
