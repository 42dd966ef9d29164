package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two float/double array columns.
  *
  * The declarative form (`aggregate(zip_with(a, b, _*_), …)`) allocates an
  * intermediate array per row and evaluates three separate folds (dot,
  * ‖a‖², ‖b‖²); this expression makes ONE pass over the primitive
  * `ArrayData` with no allocation, inside whole-stage codegen — the
  * preference ladder of SURVEY §7.4 (built-in < native Expression < UDF)
  * applied to the ANN hot loop.
  *
  * Null when either side is null; lengths must match (shorter length used
  * would hide bugs — mismatch yields null).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  private def vectorType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vectorType(left.dataType) && vectorType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.eval(a.asInstanceOf[ArrayData], elemIsFloat(left),
      b.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xv = (double) $a.$lGet($i);
         |    double yv = (double) $b.$rGet($i);
         |    $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |  }
         |  double $denom = Math.sqrt($na) * Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

object CosineSimilarity {
  /** The interpreted fold, shared by [[nullSafeEval]] and driver-side
    * scorers that must agree with the Column form bit for bit (the graph
    * beam ranks on the driver): one pass, float elements widened to
    * double, null on a length mismatch or a zero norm. `doGenCode` is
    * the same arithmetic in generated Java.
    */
  def eval(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** Column wrapper (classic API bridge). */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      CosineSimilarity(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
