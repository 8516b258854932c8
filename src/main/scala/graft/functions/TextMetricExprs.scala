package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled one-pass text-METRIC kernels (the [[TextHashing]] family,
  * grown for the quality/repetition pack).
  *
  * Why: the declarative formulations (`transform(array_distinct(arr), g ->
  * size(filter(arr, _ === g)))` and friends) run as INTERPRETED higher-order
  * lambdas — every element comparison pays lambda binding + boxed eval, and
  * the shape is O(distinct·n) per row. At sf0.1 that made the repetition
  * metrics cost ~minutes of CPU where this kernel pass costs milliseconds —
  * a constant factor that `count()`-based timing never saw because the
  * metric columns got pruned (Bench scaladoc). Each kernel computes ALL its
  * stats in ONE compiled pass over the text: split once, hash-count once.
  *
  * Semantics are IDENTICAL to the declarative paths (and the DuckDB
  * oracles) — exact int64 counts only; fractions stay declarative:
  *  - tokens: `split(trim(text), '\s+')` — one empty token for empty text
  *    (the repo-wide convention);
  *  - token length: code points (Spark `length`);
  *  - alpha token: non-empty and every char in [A-Za-z] (≡ anchored regex);
  *  - digit token: any char in [0-9] (≡ unanchored regex);
  *  - top counts: max multiplicity (≡ `array_max` over per-distinct
  *    `size(filter(...))`);
  *  - chunks/grams: [[graft.operators.Curation.wordChunks]] /
  *    [[Fns.wordShingles]] windowing, including the short-text edges;
  *  - lang words: maximal [a-z]+ runs of the root-locale-lowercased text
  *    (≡ `regexp_extract_all(lower(text), '[a-z]+')`);
  *  - CJK count: chars in [0x4e00, 0x9fff] (≡ the single-char-class regex
  *    count).
  */
object TextMetrics {

  /** Stopword lists for language ID — the single source of truth
    * ([[graft.operators.TextAnalysis.Stopwords]] re-exports this). Order
    * matters: earlier languages win argmax ties. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "en"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"))

  private val stopSets: Array[java.util.HashSet[String]] =
    Stopwords.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray

  private def tokens(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)

  /** Walks `lower(text)` once: `word(s, i, j)` for each maximal `[a-z]+`
    * run `s[i, j)` and `other(c)` for every char outside one, so a kernel
    * tokenizing here equals `regexp_extract_all(lower(text), '[a-z]+')`.
    * It lowers in the root locale, as the DuckDB oracle's `lower` does.
    * `UTF8String.toLowerCase` (and Spark's `lower`) lower non-ASCII text
    * in the JVM's default locale instead, and a Turkish one turns `I`
    * into a dotless `ı` that falls out of the runs. */
  def letterRuns(text: UTF8String)(word: (String, Int, Int) => Unit,
      other: Char => Unit): Unit = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val len = s.length
    var i = 0
    while (i < len) {
      var j = i
      while (j < len && s.charAt(j) >= 'a' && s.charAt(j) <= 'z') j += 1
      if (j > i) { word(s, i, j); i = j }
      else { other(s.charAt(i)); i += 1 }
    }
  }

  /** [nTokens, sumLen, topWordCount, nAlpha, nDigit] in one pass. */
  def wordStats(text: UTF8String): Array[Long] = {
    val ws = tokens(text)
    val counts = new java.util.HashMap[String, Int](ws.length * 2)
    var sumLen = 0L
    var top = 0
    var nAlpha = 0L
    var nDigit = 0L
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      sumLen += w.codePointCount(0, w.length)
      val c = counts.getOrDefault(w, 0) + 1
      counts.put(w, c)
      if (c > top) top = c
      var alpha = w.length > 0
      var digit = false
      var j = 0
      while (j < w.length) {
        val ch = w.charAt(j)
        if (!((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z'))) alpha = false
        if (ch >= '0' && ch <= '9') digit = true
        j += 1
      }
      if (alpha) nAlpha += 1
      if (digit) nDigit += 1
      i += 1
    }
    Array(ws.length.toLong, sumLen, top.toLong, nAlpha, nDigit)
  }

  /** [nChunks, nDistinctChunks, nGrams, topGramCount] in one pass:
    * non-overlapping `chunkW`-word chunks (wordChunks windowing) and
    * overlapping `gramW`-word shingles (wordShingles windowing). */
  def chunkGramStats(text: UTF8String, chunkW: Int, gramW: Int): Array[Long] = {
    val ws = tokens(text)
    val n = ws.length
    val sb = new java.lang.StringBuilder(64)
    // chunks: ceil(n / chunkW), at least 1
    val nChunks = math.max((n + chunkW - 1) / chunkW, 1)
    val chunkSet = new java.util.HashSet[String](nChunks * 2)
    var i = 0
    while (i < nChunks) {
      sb.setLength(0)
      val start = i * chunkW
      val end = math.min(start + chunkW, n)
      var j = start
      while (j < end) { if (j > start) sb.append(' '); sb.append(ws(j)); j += 1 }
      chunkSet.add(sb.toString)
      i += 1
    }
    // grams: max(n - gramW + 1, 1) overlapping windows
    val nGrams = math.max(n - (gramW - 1), 1)
    val gramCounts = new java.util.HashMap[String, Int](nGrams * 2)
    var top = 0
    i = 0
    while (i < nGrams) {
      sb.setLength(0)
      val end = math.min(i + gramW, n)
      var j = i
      while (j < end) { if (j > i) sb.append(' '); sb.append(ws(j)); j += 1 }
      val g = sb.toString
      val c = gramCounts.getOrDefault(g, 0) + 1
      gramCounts.put(g, c)
      if (c > top) top = c
      i += 1
    }
    Array(nChunks.toLong, chunkSet.size.toLong, nGrams.toLong, top.toLong)
  }

  /** [nWords, cjkCount, hits_en, hits_es, hits_fr, hits_de] in one pass
    * over the [[letterRuns]]. */
  def langStats(text: UTF8String): Array[Long] = {
    var nWords = 0L
    var cjk = 0L
    val hits = new Array[Long](stopSets.length)
    letterRuns(text)({ (s, i, j) =>
      nWords += 1
      val w = s.substring(i, j)
      var k = 0
      while (k < stopSets.length) { if (stopSets(k).contains(w)) hits(k) += 1; k += 1 }
    }, ch => if (ch >= 0x4e00 && ch <= 0x9fff) cjk += 1)
    Array(nWords, cjk) ++ hits
  }

  // ---- ArrayData wrappers for codegen call sites --------------------------
  def wordStatsData(text: UTF8String) = new GenericArrayData(wordStats(text))
  def chunkGramStatsData(text: UTF8String, chunkW: Int, gramW: Int) =
    new GenericArrayData(chunkGramStats(text, chunkW, gramW))
  def langStatsData(text: UTF8String) = new GenericArrayData(langStats(text))
}

/** Base: codegen emits one static call — whole-stage span stays unbroken. */
abstract class TextMetricExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def staticCall(childRef: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => staticCall(c))
}

/** array<long> [nTokens, sumLen, topWordCount, nAlpha, nDigit]. */
case class WordStats(child: Expression) extends TextMetricExpr {
  override def nullSafeEval(t: Any): Any =
    TextMetrics.wordStatsData(t.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String =
    s"graft.functions.TextMetrics.wordStatsData($c)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_word_stats"
}

/** array<long> [nChunks, nDistinctChunks, nGrams, topGramCount]. */
case class ChunkGramStats(child: Expression, chunkW: Int, gramW: Int)
    extends TextMetricExpr {
  override def nullSafeEval(t: Any): Any =
    TextMetrics.chunkGramStatsData(t.asInstanceOf[UTF8String], chunkW, gramW)
  override protected def staticCall(c: String): String =
    s"graft.functions.TextMetrics.chunkGramStatsData($c, $chunkW, $gramW)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_chunk_gram_stats"
}

/** array<long> [nWords, cjkCount, hits_en, hits_es, hits_fr, hits_de]. */
case class LangStats(child: Expression) extends TextMetricExpr {
  override def nullSafeEval(t: Any): Any =
    TextMetrics.langStatsData(t.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String =
    s"graft.functions.TextMetrics.langStatsData($c)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_lang_stats"
}

object TextMetricExprs {
  def wordStats(text: Column): Column =
    Bridge.column(WordStats(Bridge.expression(text)))
  def chunkGramStats(text: Column, chunkW: Int, gramW: Int): Column =
    Bridge.column(ChunkGramStats(Bridge.expression(text), chunkW, gramW))
  def langStats(text: Column): Column =
    Bridge.column(LangStats(Bridge.expression(text)))
}
