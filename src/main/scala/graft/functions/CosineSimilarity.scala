package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd cosine similarity over two `array<double>` columns.
  *
  * The declarative formulation (`aggregate(zip_with(a, b, ...))` folds)
  * is semantically right but Spark evaluates higher-order-function
  * lambdas interpreted, one closure dispatch per element — the dominant
  * cost of brute-force similarity search. This expression is the
  * §7.2-preferred escalation: a native `Expression` whose `doGenCode`
  * emits a tight primitive loop that whole-stage codegen inlines, with
  * accumulation in the same index order as the folds, so results are
  * bit-identical to the declarative form (asserted by CosineSpec) and
  * to the DuckDB oracle mirror.
  *
  * Null inputs → null (null-intolerant); mismatched lengths → null
  * (the folds would produce null via zip_with padding); empty arrays →
  * NaN (0/0), matching the fold.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else CosineSimilarity.of(x.toDoubleArray(), y.toDoubleArray())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $p = $x.getDouble($i);
         |    final double $q = $y.getDouble($i);
         |    $dot += $p * $q; $nx += $p * $p; $ny += $q * $q;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {

  /** The generated code's fold, for equal-length arrays; the interpreted
    * path and driver-side callers share it, so they get the same doubles. */
  def of(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val p = x(i); val q = y(i)
      dot += p * q; nx += p * p; ny += q * q
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Registration triple for `SparkSessionExtensions.injectFunction` /
    * `FunctionRegistry` — exposes `cosine_sim(a, b)` to SQL and
    * `call_function` call sites.
    */
  val functionDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "cosine_sim expects exactly 2 arguments")
      CosineSimilarity(args.head, args(1))
    })
}
