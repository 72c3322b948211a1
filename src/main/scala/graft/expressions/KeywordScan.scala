package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick multi-pattern substring scan (Aho & Corasick 1975; the
  * FlashText/pyahocorasick shape the web-corpus pipelines use for
  * bad-word lists and topic taggers with thousands of entries).
  *
  * One pass over the text counts ALL occurrences of EVERY pattern —
  * including overlapping ones and patterns that are substrings of
  * other patterns — in O(len + matches), where the regex-alternation
  * formulation (`(p1|p2|…)`) costs a scan per alternative in the worst
  * case, misses overlaps, and falls over entirely at dictionary sizes
  * regex compilers reject. Matching is CASE-SENSITIVE char-unit
  * equality: callers wanting case-insensitivity lower BOTH sides
  * (`lower(text)` is engine-portable; per-char lowercasing inside the
  * kernel would not be).
  *
  * The compiled automaton is held by the expression and ships to
  * executors as a generated-class reference object (the BpeTable
  * pattern). Automaton size is O(total pattern chars) — a 100k-entry
  * dictionary is a few MB, broadcast-shaped.
  */
object AhoCorasickOps {

  /** Compiled automaton: trie transitions as per-node sorted parallel
    * arrays (binary-searched), BFS failure links, per-node emitted
    * pattern-index lists (own + inherited through the failure chain,
    * flattened at build time so the match loop never walks links). */
  final class Automaton private[AhoCorasickOps] (
      val nPatterns: Int,
      transChars: Array[Array[Char]],
      transNext: Array[Array[Int]],
      fail: Array[Int],
      emit: Array[Array[Int]]) extends Serializable {

    private def step(state: Int, c: Char): Int = {
      var s = state
      while (true) {
        val i = java.util.Arrays.binarySearch(transChars(s), c)
        if (i >= 0) return transNext(s)(i)
        if (s == 0) return 0
        s = fail(s)
      }
      0 // unreachable
    }

    /** Per-pattern occurrence counts (declaration order). */
    def counts(text: String): Array[Int] = {
      val out = new Array[Int](nPatterns)
      var s = 0
      var i = 0
      while (i < text.length) {
        s = step(s, text.charAt(i))
        val em = emit(s)
        var j = 0
        while (j < em.length) { out(em(j)) += 1; j += 1 }
        i += 1
      }
      out
    }
  }

  /** Build the automaton. Duplicate patterns are rejected (their
    * counts would be indistinguishable); empty patterns too. */
  def compile(patterns: Seq[String]): Automaton = {
    require(patterns.nonEmpty, "keyword scan needs at least one pattern")
    require(patterns.forall(_.nonEmpty), "empty keyword pattern")
    require(patterns.distinct.length == patterns.length,
      "duplicate keyword patterns")
    val childs = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.TreeMap.empty[Char, Int])
    val own = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        s = childs(s).getOrElse(c, {
          childs += scala.collection.mutable.TreeMap.empty[Char, Int]
          own += Nil
          val id = childs.length - 1
          childs(s).update(c, id)
          id
        })
      }
      own(s) = pi :: own(s)
    }
    val n = childs.length
    val fail = new Array[Int](n)
    val emit = new Array[Array[Int]](n)
    emit(0) = own(0).reverse.toArray
    val queue = scala.collection.mutable.Queue.empty[Int]
    childs(0).valuesIterator.foreach { v => fail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      // BFS order guarantees emit(fail(u)) is already flattened
      emit(u) = (own(u).reverse ++ emit(fail(u))).toArray
      childs(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !childs(f).contains(c)) f = fail(f)
        fail(v) = childs(f).get(c).filter(_ != v).getOrElse(0)
        queue += v
      }
    }
    new Automaton(patterns.length,
      childs.map(_.keysIterator.toArray).toArray,
      childs.map(_.valuesIterator.toArray).toArray,
      fail, emit)
  }

  def scan(text: UTF8String, a: Automaton): GenericArrayData =
    new GenericArrayData(a.counts(text.toString))
}

/** `TextOps.keywordCounts(text, keywords)` → array<int> of
  * occurrence counts in pattern-declaration order. Map-only,
  * codegen'd. */
case class KeywordCounts(child: Expression, automaton: AhoCorasickOps.Automaton)
    extends TextKernelExpr {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    AhoCorasickOps.scan(input.asInstanceOf[UTF8String], automaton)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("acAutomaton", automaton,
      "graft.expressions.AhoCorasickOps.Automaton")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.AhoCorasickOps$$.MODULE$$.scan($c, $a)")
  }
  override protected def withNewChildInternal(newChild: Expression): KeywordCounts =
    copy(child = newChild)
}
