package graft.expressions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.WordPiece

/** `WordPiece.tokens(text, model)` → array<string>:
  * pre-tokenize with the BPE prelude pattern (letter runs, single
  * digits, single punctuation — the SAME word boundaries the trainer
  * counted), greedy-longest-match each word against the model's
  * WordPiece vocabulary (`##` continuations, whole word → `[UNK]` on
  * any unmatched position), pieces flattened in order. Map-only
  * codegen; the model ships as a generated-class reference object
  * (the UnigramOps pattern). */
object WordpieceOps {

  def tokens(text: UTF8String, model: WordPiece.Model): GenericArrayData = {
    val out = Seq.newBuilder[UTF8String]
    val m = BpeOps.preTokenMatcher(text.toString)
    while (m.find()) {
      WordPiece.segmentWord(m.group(), model)
        .foreach(p => out += UTF8String.fromString(p))
    }
    new GenericArrayData(out.result().toArray[Any])
  }
}

case class WordpieceTokens(child: Expression, model: WordPiece.Model)
    extends TextKernelExpr {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    WordpieceOps.tokens(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("wpModel", model,
      "graft.operators.WordPiece.Model")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.WordpieceOps$$.MODULE$$.tokens($c, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): WordpieceTokens =
    copy(child = newChild)
}

/** `WordPiece.tokenIds(text, model)` → array<int>:
  * segment and map each piece to its vocabulary id in the same pass.
  * Id contract: vocabulary entries (including `[UNK]`) sorted
  * ascending by UTF-8 byte order, ids 0..V−1 — every output id is
  * valid because `[UNK]` is itself an entry (the BERT contract;
  * contrast the BPE/unigram −1-UNK interchange). */
object WordpieceIdOps {
  private val idTables =
    new ConcurrentHashMap[WordPiece.Model, java.util.HashMap[String, Integer]]()
  private def idsOf(m: WordPiece.Model): java.util.HashMap[String, Integer] =
    idTables.computeIfAbsent(m, { mm =>
      val h = new java.util.HashMap[String, Integer]()
      mm.vocab.toSeq
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
        .zipWithIndex.foreach { case (p, i) => h.put(p, i) }
      h
    })

  def tokenIds(text: UTF8String, model: WordPiece.Model): GenericArrayData = {
    val ids = idsOf(model)
    val out = Seq.newBuilder[Int]
    val m = BpeOps.preTokenMatcher(text.toString)
    while (m.find()) {
      WordPiece.segmentWord(m.group(), model)
        .foreach(p => out += ids.get(p).intValue)
    }
    new GenericArrayData(out.result().toArray[Any])
  }
}

case class WordpieceTokenIds(child: Expression, model: WordPiece.Model)
    extends TextKernelExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    WordpieceIdOps.tokenIds(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("wpModel", model,
      "graft.operators.WordPiece.Model")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.WordpieceIdOps$$.MODULE$$.tokenIds($c, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): WordpieceTokenIds =
    copy(child = newChild)
}
