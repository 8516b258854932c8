package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BpeKernel, Fns, TextMetricExprs, TextMetrics}
import graft.operators.{Curation, TextAnalysis}

/** The compiled text-metric kernels must be value-identical to the
  * declarative HOF formulations they replaced (which remain the semantic
  * reference and the oracle-SQL shape). Seeded random corpora + the edge
  * cases that exercised the short-text windowing rules. */
class TextMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = {
    val rng = new scala.util.Random(57)
    val vocab = Vector("aa", "Bb", "c3", "ddd", "e!", "ff", "ggggg", "h", "999", "k-k")
    val rand = (1 to 60).map(i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(40))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
    val edges = Seq(
      (101L, ""), (102L, "   "), (103L, "one"), (104L, "a a a a a"),
      (105L, "x y"), (106L, "The the THE of zzz"), (107L, "中文 test 中"),
      (108L, "tab\tand  doublespace"))
    (rand ++ edges).toDF("doc_id", "text")
  }

  test("wordStats kernel ≡ declarative split/fold/topElement/rlike counts") {
    val df = fixture
    val toks = split(trim(col("text")), "\\s+")
    val out = df.select(col("doc_id"),
        TextMetricExprs.wordStats(col("text")).as("k"),
        size(toks).cast("long").as("n"),
        aggregate(transform(toks, t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("sl"),
        Curation.topElementCount(toks).cast("long").as("tc"),
        size(filter(toks, t => t.rlike("^[A-Za-z]+$"))).cast("long").as("na"),
        size(filter(toks, t => t.rlike("[0-9]"))).cast("long").as("nd"))
      .collect()
    out.foreach { r =>
      val k = r.getSeq[Long](1)
      assert(k == Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)),
        s"wordStats mismatch for doc ${r.getLong(0)}: $k")
    }
  }

  test("chunkGramStats kernel ≡ wordChunks/wordShingles declarative counts") {
    val df = fixture
    val chunks = Curation.wordChunks(col("text"), 5)
    val grams = Fns.wordShingles(col("text"), 2)
    val out = df.select(col("doc_id"),
        TextMetricExprs.chunkGramStats(col("text"), 5, 2).as("k"),
        size(chunks).cast("long").as("nc"),
        size(array_distinct(chunks)).cast("long").as("ndc"),
        size(grams).cast("long").as("ng"),
        Curation.topElementCount(grams).cast("long").as("tg"))
      .collect()
    out.foreach { r =>
      val k = r.getSeq[Long](1)
      assert(k == Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)),
        s"chunkGramStats mismatch for doc ${r.getLong(0)}: $k")
    }
  }

  test("langStats kernel ≡ words()/stopwordHits/CJK regex counts") {
    val df = fixture.union(Seq(
      (201L, "the of and is in to a"), (202L, "el la de y que los en"),
      (203L, "le et les des un"), (204L, "der die das und ist ein zu"),
      (205L, "中文中文")).toDF("doc_id", "text"))
    val ws = TextAnalysis.words(col("text"))
    val cjk = size(regexp_extract_all(col("text"), lit(TextAnalysis.CjkClass), lit(0)))
    val cols = Seq(size(ws).cast("long").as("nw"), cjk.cast("long").as("cj")) ++
      TextAnalysis.Stopwords.zipWithIndex.map { case ((_, stops), i) =>
        TextAnalysis.stopwordHits(ws, stops).cast("long").as(s"h$i")
      }
    val out = df.select(col("doc_id") +: TextMetricExprs.langStats(col("text")).as("k") +: cols: _*)
      .collect()
    out.foreach { r =>
      val k = r.getSeq[Long](1)
      val expected = (0 until 6).map(i => r.getLong(2 + i))
      assert(k == expected, s"langStats mismatch for doc ${r.getLong(0)}: $k vs $expected")
    }
  }

  test("langStats and BpeKernel lower in the root locale under a Turkish default") {
    import org.apache.spark.unsafe.types.UTF8String
    val doc = "IS IT 中文? Istanbul"
    val m = BpeKernel.mergeRanks(Seq(("i", "s"), ("i", "t")))
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // the oracle's words, which no JVM locale moves: is, it, istanbul
      val t = UTF8String.fromString(doc)
      assert(TextMetrics.langStats(t).toSeq == Seq(3L, 2L, 1L, 0L, 0L, 0L))
      assert(BpeKernel.encodeDoc(t, m).toString == "is it is t a n b u l")
    } finally java.util.Locale.setDefault(default)
  }

  test("bpeTopMerges: hand-computed greedy merges, ties and overlaps included") {
    // corpus: aaab ×2, ab ×1
    //  it1: (a,a)=4  (aa in aaab counts twice per word), (a,b)=3 → merge (a,a)
    //       aaab → [aa,a,b] (greedy left-to-right: the FIRST aa fuses), ab → [a,b]
    //  it2: (aa,a)=2, (a,b)=2+1=3 → merge (a,b)
    //  it3: [aa,ab] ×2, [ab] → (aa,ab)=2
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTopMerges(docs, "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)), got)
    // cross-boundary guard: pair (b,a) must NOT match inside symbol "ab"
    val docs2 = Seq((1L, "abab abab abab cc")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpeTopMerges(docs2, "text", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // it1: (a,b)=6, (b,a)=3, (c,c)=1 → merge (a,b); abab → [ab,ab]
    // it2: (ab,ab)=3 beats (c,c)=1 — and (b,a) has vanished entirely
    assert(got2 == Seq(("a", "b", 6L), ("ab", "ab", 3L)), got2)
    // encode half: zero merges = letter count; each merge monotonically
    // shrinks the segment count; the hand example lands exactly
    val df3 = Seq((1L, "aaab ab")).toDF("doc_id", "text")
    def segs(ms: Seq[(String, String)]): Long =
      df3.select(TextAnalysis.bpeSegmentCount(col("text"), ms).as("n"))
        .first().getLong(0)
    assert(segs(Nil) == 6L)                           // a,a,a,b + a,b
    assert(segs(Seq(("a", "a"))) == 5L)               // aa,a,b + a,b
    assert(segs(Seq(("a", "a"), ("a", "b"))) == 3L)   // aa,ab + ab
  }

  test("bpeTrainLocal: merged-away pairs leave the count table (incremental ranks)") {
    // xaxa ×3, cc ×1: it1 counts (x,a)=6, (a,x)=3, (c,c)=1 → merge (x,a);
    // xaxa → [xa,xa] and (a,x) VANISHES. it2: (xa,xa)=3 vs (c,c)=1.
    // Adversarial for incremental maintenance: a stale (a,x)=3 would TIE
    // (xa,xa)=3 and win the lexicographic tie-break ("a" < "xa") — so a
    // missed decrement flips rank 2. Rank 3 must fall to (c,c).
    val docs = Seq((1L, "xaxa xaxa xaxa cc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainLocal(docs, "text", k = 4)
    assert(got == Seq((1, "x", "a", 6L), (2, "xa", "xa", 3L), (3, "c", "c", 1L)),
      got) // rank 4 unlearnable: every word is one symbol → trainer stops
  }

  test("bpeTrainLocal ≡ full per-rank recount (reference algorithm, k=64)") {
    // Reference = the pre-r20 trainer: recount EVERY word type's adjacent
    // pairs at every rank. The incremental trainer must match it rank by
    // rank — counts, tie-breaks, and termination — over real text at the
    // full q195 merge depth.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val types = docs
      .select(explode(TextAnalysis.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val syms = types.map { case (w, _) => w.toCharArray.map(String.valueOf) }
    val freqs = types.map(_._2)
    val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= 64 && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      for (t <- syms.indices; i <- 0 until syms(t).length - 1)
        counts.merge((syms(t)(i), syms(t)(i + 1)), freqs(t), (a, b) => a + b)
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = -1L
        counts.forEach { (p, c) =>
          if (c > bc || (c == bc && (p._1 < bl || (p._1 == bl && p._2 < br)))) {
            bl = p._1; br = p._2; bc = c
          }
        }
        ref += ((rank, bl, br, bc))
        for (t <- syms.indices) {
          val s = syms(t)
          if (s.sliding(2).exists(p => p.length == 2 && p(0) == bl && p(1) == br)) {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == bl && s(i + 1) == br) {
                out += bl + br; i += 2
              } else { out += s(i); i += 1 }
            }
            syms(t) = out.toArray
          }
        }
        rank += 1
      }
    }
    val got = TextAnalysis.bpeTrainLocal(docs, "text", k = 64)
    assert(got == ref.toSeq, s"incremental trainer diverged from recount at " +
      s"rank ${got.zip(ref).indexWhere(p => p._1 != p._2) + 1}")
  }

  test("bpeTrainLocal ≡ bpeTopMerges (driver loop vs distributed, k=5 on real docs)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dist = TextAnalysis.bpeTopMerges(docs, "text", k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val local = TextAnalysis.bpeTrainLocal(docs, "text", k = 5)
    assert(local == dist, s"driver trainer diverged: $local vs $dist")
  }

  test("BpeKernel ≡ literal replace chain on learned merges (k=5 and k=64)") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for (k <- Seq(5, 64)) {
      val merges = TextAnalysis.bpeTrainLocal(docs, "text", k).map(m => (m._2, m._3))
      assert(merges.length == k, s"expected $k learnable merges, got ${merges.length}")
      val bc = spark.sparkContext.broadcast(graft.functions.BpeKernel.mergeRanks(merges))
      val diff = docs
        .select(col("doc_id"),
          TextAnalysis.bpeSegmentCount(col("text"), merges).as("n_chain"),
          graft.functions.BpeExprs.bpeEncode(col("text"), bc).as("seg"))
        .withColumn("n_kernel",
          when(col("seg") === "", lit(0L))
            .otherwise(size(split(col("seg"), " ")).cast("long")))
        .filter(col("n_chain") =!= col("n_kernel"))
      assert(diff.isEmpty, s"k=$k: kernel/chain token counts diverge: " +
        diff.limit(3).collect().mkString("; "))
    }
  }

  test("BpeKernel edges: empty doc, no-letter doc, interpreted ≡ codegen") {
    val m = graft.functions.BpeKernel.mergeRanks(Seq(("a", "b"), ("ab", "c")))
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.BpeKernel.encodeDoc(UTF8String.fromString(""), m).toString == "")
    assert(graft.functions.BpeKernel.encodeDoc(UTF8String.fromString("123 !?"), m).toString == "")
    // casing folds through lower(); non-letters split words
    assert(graft.functions.BpeKernel.encodeDoc(
      UTF8String.fromString("ABCab,cabc"), m).toString == "abc ab c abc")
    // interpreted eval path (nullSafeEval) agrees with the codegen'd column
    val bc = spark.sparkContext.broadcast(m)
    val viaCol = Seq(("abcab cabc")).toDF("text")
      .select(graft.functions.BpeExprs.bpeEncode(col("text"), bc)).first().getString(0)
    val viaEval = graft.functions.BpeKernel.encodeDoc(
      UTF8String.fromString("abcab cabc"), m).toString
    assert(viaCol == viaEval && viaCol == "abc ab c abc")
  }
}
