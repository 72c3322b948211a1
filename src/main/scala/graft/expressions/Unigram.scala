package graft.expressions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.UnigramLm

/** `UnigramLm.tokens(text, model)` → array<string>: split on
  * whitespace, Viterbi-segment each word under the given
  * unigram-LM model (integer-lattice scores — see
  * [[graft.operators.UnigramLm]]), pieces flattened in order. Map-only
  * codegen; the model ships as a generated-class reference object. */
object UnigramOps {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def tokens(text: UTF8String, model: UnigramLm.Model): GenericArrayData = {
    val out = Seq.newBuilder[UTF8String]
    ws.split(text.toString.trim).foreach { w =>
      if (w.nonEmpty)
        UnigramLm.viterbi(w, model).foreach(p => out += UTF8String.fromString(p))
    }
    new GenericArrayData(out.result().toArray[Any])
  }
}

case class UnigramTokens(child: Expression, model: UnigramLm.Model)
    extends TextKernelExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    UnigramOps.tokens(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ulmModel", model,
      "graft.operators.UnigramLm.Model")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.UnigramOps$$.MODULE$$.tokens($c, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramTokens =
    copy(child = newChild)
}

/** `UnigramLm.tokenIds(text, model)` → array<int>: segment
  * and map each piece to its vocabulary id in the SAME pass — the
  * interchange form a training pipeline ships (the BpeTokenIds
  * sibling). The id contract: vocabulary pieces sorted ascending,
  * ids 0..V−1; an unknown-character fallback piece (absent from the
  * vocabulary) maps to −1 (UNK), which happens only on corpora other
  * than the training one. */
object UnigramIdOps {
  /** Piece → id table derived once per model (sorted-piece contract),
    * cached per model instance. */
  private val idTables =
    new ConcurrentHashMap[UnigramLm.Model, java.util.HashMap[String, Integer]]()
  private def idsOf(m: UnigramLm.Model): java.util.HashMap[String, Integer] =
    idTables.computeIfAbsent(m, { mm =>
      val h = new java.util.HashMap[String, Integer]()
      mm.scores.keys.toSeq.sorted.zipWithIndex.foreach { case (p, i) =>
        h.put(p, i)
      }
      h
    })

  def tokenIds(text: UTF8String, model: UnigramLm.Model): GenericArrayData = {
    val ids = idsOf(model)
    val out = Seq.newBuilder[Integer]
    val ws = java.util.regex.Pattern.compile("\\s+")
    ws.split(text.toString.trim).foreach { w =>
      if (w.nonEmpty)
        UnigramLm.viterbi(w, model).foreach { p =>
          val id = ids.get(p)
          out += (if (id == null) Integer.valueOf(-1) else id)
        }
    }
    new GenericArrayData(out.result().map(_.intValue).toArray[Any])
  }
}

case class UnigramTokenIds(child: Expression, model: UnigramLm.Model)
    extends TextKernelExpr {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    UnigramIdOps.tokenIds(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ulmModel", model,
      "graft.operators.UnigramLm.Model")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.UnigramIdOps$$.MODULE$$.tokenIds($c, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramTokenIds =
    copy(child = newChild)
}
