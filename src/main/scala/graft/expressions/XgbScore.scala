package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.impact.XgbBooster

/** xgb_score(features array<double>, '<model.RDS>') → double.
  *
  * Scores the booster inside whole-stage codegen: the model is
  * attached to the generated class as a reference object (the same
  * mechanism literals use), so scoring is a virtual call per row with
  * zero serialization on the hot path. The tree walk itself is ~50–300
  * pointer-chases over primitive arrays — map-only, no shuffle, scales
  * linearly with rows.
  *
  * The booster is a constructor argument and rides to executors inside
  * the serialized expression: a freshly trained one (e.g. from
  * [[graft.impact.GbtTrainer]]) is passed as is, the SQL form loads
  * its artifact path once through [[XgbBooster.load]].
  */
case class XgbScore(child: Expression, model: XgbBooster)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"xgb_score expects array<double> features, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    model.predict(input.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("xgbBooster", model, classOf[XgbBooster].getName)
    defineCodeGen(ctx, ev, c => s"$m.predict($c.toDoubleArray())")
  }

  override protected def withNewChildInternal(newChild: Expression): XgbScore =
    copy(child = newChild)
}
