package graft.expressions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(filter-literal, hash)` → boolean: membership
  * probe against a serialized `org.apache.spark.util.sketch.BloomFilter`
  * (the public sketch `DataFrameStatFunctions.bloomFilter` builds), as
  * a map-only codegen expression.
  *
  * Why: at 100 TB, a semi-join prefilter against a dimension-sized
  * reference set (benchmark shingles, a blocklist, a seen-ids index)
  * should not shuffle the big side at all. A bloom of the set is
  * 10-100× smaller than its broadcast hash relation, so it stays
  * broadcast-able long after the exact set outgrows
  * `autoBroadcastJoinThreshold`. Bloom membership has NO false
  * negatives, so `prefilter → exact equi-join` pipelines stay EXACT —
  * the join removes the false positives
  * (see `Dedup.contaminationBloomPruned`).
  *
  * The serialized filter arrives as a constructor argument, is
  * deserialized ONCE here on the driver, and rides into generated
  * code as a reference object —
  * never per row.
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  require(bloomBytes != null && bloomBytes.nonEmpty,
    "bloom_might_contain needs a non-empty serialized filter")

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects an integral hash, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input match {
      case l: java.lang.Long    => l.longValue()
      case i: java.lang.Integer => i.longValue()
    })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$bRef.mightContainLong((long) $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
