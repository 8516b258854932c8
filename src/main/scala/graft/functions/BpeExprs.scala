package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The production-scale BPE ENCODE path: a compiled kernel that greedily
  * segments each word by a broadcast merge-rank table.
  *
  * [[graft.operators.TextAnalysis.bpeSegmentCount]] is the oracle-exact
  * reference — it applies k merges as k chained literal `replace`s, which is
  * bit-faithful but builds a k-deep expression tree: at a production vocab
  * (~30k merges) that is a plan-size explosion and k full passes over every
  * word. This kernel is the form that carries a 30k-merge vocab over a
  * 100 TB corpus:
  *
  *  - the merge list rides an ordinary Spark BROADCAST (one copy per
  *    executor, fetched via the torrent protocol — never serialized per
  *    task, never shuffled);
  *  - encoding is ONE compiled scan-stage pass per document (the
  *    TextHashExprs discipline: codegen emits a single static call, the
  *    whole-stage-codegen span stays unbroken, zero shuffle);
  *  - per-word cost is O(len²) hash lookups, INDEPENDENT of k — the
  *    min-rank-repeat algorithm touches only pairs actually present in the
  *    word, never the 30k-merge list.
  *
  * ==Exact equivalence to the literal-replace chain==
  * Per chosen pair the kernel merges ALL left-to-right non-overlapping
  * occurrences — exactly one `replace` pass. Pairs are chosen in ascending
  * rank order because, for a merge list PRODUCED BY TRAINING
  * ([[graft.operators.TextAnalysis.bpeTopMerges]] or any Sennrich-style
  * learner), applying a merge can only create pairs involving its output
  * symbol, whose own merges were necessarily learned LATER (the symbol did
  * not exist before) — so new pairs always rank strictly higher than the
  * one just applied, and no exhausted pair ever re-forms (a full LTR pass
  * leaves no adjacent (l,r); later merges only fuse neighbors into new
  * symbols, never resurrect the pair). Hence min-rank-repeat ≡ "apply
  * merges in rank order, one full replace pass each" — the literal chain.
  * For an arbitrary (non-learned) list the chain is the defining semantics
  * and this kernel's precondition does not hold; the equivalence is pinned
  * empirically in TextMetricsSpec at k=5 and k=64 on learned chains.
  *
  * Reference behavior coverage: tokenizer train/apply as in
  * `smartpy_arc`-era pipelines is out of reference scope — this is part of
  * the LLM-training-data pack (SURVEY §2.10).
  */
object BpeKernel {

  /** Serializable merge-rank table. Lookup structures build lazily ONCE per
    * JVM deserialization (executor), not per row/task. */
  final class MergeRanks(val lhs: Array[String], val rhs: Array[String])
      extends Serializable {
    require(lhs.length == rhs.length, "lhs/rhs merge arrays must align")
    /** rank by "l\u0000r" key; first (lowest) rank wins on duplicates,
      * matching the chain (a later duplicate merge is a no-op: pass k
      * already removed every occurrence). */
    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](lhs.length * 2)
      var i = 0
      while (i < lhs.length) {
        m.putIfAbsent(lhs(i) + "\u0000" + rhs(i), Integer.valueOf(i))
        i += 1
      }
      m
    }
    def size: Int = lhs.length
    def rankOf(l: String, r: String): Int = {
      val v = rank.get(l + "\u0000" + r)
      if (v == null) Integer.MAX_VALUE else v.intValue()
    }
  }

  def mergeRanks(pairs: Seq[(String, String)]): MergeRanks =
    new MergeRanks(pairs.map(_._1).toArray, pairs.map(_._2).toArray)

  /** Greedy BPE segmentation of one word (in place over a growable array).
    * Returns the surviving symbols in order. */
  def segmentWord(word: String, m: MergeRanks): Array[String] = {
    var syms = new Array[String](word.length)
    var n = word.length
    var i = 0
    while (i < n) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var done = n <= 1
    while (!done) {
      // the lowest-ranked adjacent pair present
      var best = Integer.MAX_VALUE
      i = 0
      while (i < n - 1) {
        val r = m.rankOf(syms(i), syms(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Integer.MAX_VALUE) done = true
      else {
        // one full left-to-right non-overlapping pass of that pair —
        // exactly the literal replace's semantics
        val l = m.lhs(best); val r = m.rhs(best); val lr = l + r
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && syms(i) == l && syms(i + 1) == r) {
            syms(w) = lr; i += 2
          } else { syms(w) = syms(i); i += 1 }
          w += 1
        }
        n = w
        if (n <= 1) done = true
      }
    }
    java.util.Arrays.copyOfRange(syms, 0, n)
  }

  /** Whole-document encode: words are lowercase-letter runs of
    * `lower(text)` (exactly `regexp_extract_all(lower(text), '[a-z]+')`,
    * the [[graft.operators.TextAnalysis.words]] tokenization, scanned by
    * [[TextMetrics.letterRuns]]); every word segments greedily and the
    * surviving tokens join with single spaces into one token stream
    * (count = its length). */
  def encodeDoc(text: UTF8String, m: MergeRanks): UTF8String = {
    val sb = new java.lang.StringBuilder(text.numBytes + 16)
    TextMetrics.letterRuns(text)({ (s, i, j) =>
      val toks = segmentWord(s.substring(i, j), m)
      var t = 0
      while (t < toks.length) {
        if (sb.length > 0) sb.append(' ')
        sb.append(toks(t)); t += 1
      }
    }, _ => ())
    UTF8String.fromString(sb.toString)
  }

  /** Codegen entry: unwraps the broadcast (TorrentBroadcast caches the
    * value per executor after the first call — no per-row fetch). */
  def encodeDocB(text: UTF8String, bc: Broadcast[MergeRanks]): UTF8String =
    encodeDoc(text, bc.value)
}

/** string: the document's full BPE token stream, space-joined (empty string
  * for a wordless document). Token COUNT derives downstream as
  * `size(split(...))` guarded for the empty case — one kernel output, one
  * evaluation (the q171 expensive-expression re-evaluation trap). */
case class BpeEncodeDoc(child: Expression, bc: Broadcast[BpeKernel.MergeRanks])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")
  override def dataType: DataType = StringType
  override def nullSafeEval(t: Any): Any =
    BpeKernel.encodeDocB(t.asInstanceOf[UTF8String], bc)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeMerges", bc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeKernel.encodeDocB($c, $bcRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_bpe_encode"
}

object BpeExprs {
  /** Column face: `bpeEncode(text, broadcastMerges)`. */
  def bpeEncode(text: Column, bc: Broadcast[BpeKernel.MergeRanks]): Column =
    Bridge.column(BpeEncodeDoc(Bridge.expression(text), bc))
}
