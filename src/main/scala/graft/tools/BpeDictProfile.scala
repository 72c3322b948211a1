package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.Bpe

/** Scratch profiler for Bpe.train's driver-side word-type dictionary —
  * the one bounded driver collect in the tokenizer path. Synthesizes a
  * wide-unicode corpus (random CJK bigram "words": every word is a
  * fresh type, the worst case for type-count growth — the regime the
  * Unicode prelude newly exposes, since CJK words no longer shatter to
  * per-codepoint pre-tokens) and measures:
  *   - how many word types the corpus actually produces vs the cap,
  *   - driver heap retained by the collected dictionary at the cap,
  *   - merge-loop wall time over the capped dictionary.
  * Usage: runMain graft.tools.BpeDictProfile [nDocs] [maxWordTypes]
  */
object BpeDictProfile {
  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
    rt.totalMemory() - rt.freeMemory()
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val cap = args.lift(1).map(_.toInt).getOrElse(1 << 20)
    val wordLen = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Engine.local(Engine.envCores)

    // 40 words/doc, each a 2-codepoint CJK pair drawn from 500×500
    // combos → up to 250k distinct types; scale nDocs to push past any
    // cap. Deterministic from doc id. (Spark's chr() is mod-256, so
    // the CJK alphabet is a literal lookup array.)
    val cjkChars = (0 until 500).map(i => lit(new String(Character.toChars(0x4E00 + i))))
    val cjk = array(cjkChars: _*)
    val docs = spark.range(nDocs).select(
      concat_ws(" ", (0 until 40).map { j =>
        concat((0 until wordLen).map { c =>
          val h = pmod(hash(col("id") * 40 + j + c * 7919), lit(500))
          element_at(cjk, h + 1)
        }: _*)
      }: _*).as("text"))

    val trueTypes = docs
      .select(explode(Bpe.preTokens(col("text"))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)

    val h0 = usedHeap()
    val t0 = System.nanoTime()
    val counts = docs
      .select(explode(Bpe.preTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(cap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tCollect = (System.nanoTime() - t0) / 1e9
    val h1 = usedHeap()
    val t1 = System.nanoTime()
    val merges = Bpe.trainOnDict(counts, numMerges = 200)
    val tLoop = (System.nanoTime() - t1) / 1e9
    println(f"[bpedict] docs=$nDocs cap=$cap trueTypes=$trueTypes " +
      f"collected=${counts.length} capped=${counts.length == cap} " +
      f"dictHeapMB=${(h1 - h0) / 1e6}%.1f collectS=$tCollect%.2f " +
      f"mergeLoopS=$tLoop%.2f merges=${merges.length}")
    // keep the dict reachable so h1 measured it, not a GC'd ghost
    require(counts.length > 0 && merges.nonEmpty)
    spark.stop()
  }
}
