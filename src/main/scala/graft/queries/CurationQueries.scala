package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns
import graft.operators.{Curation, TextAnalysis}

/** Corpus-curation pack: PII scrub, paragraph dedup, repetition metrics,
  * decontamination, deterministic sampling/mixing, TF-IDF. Every oracle is
  * authored from the same constants/SQL builders as the Spark plan
  * ([[Curation]] / [[Fns]]), so the driver's value-hash compare is exact.
  *
  * The documents fixture is single-line ASCII word soup, so queries that
  * need lines/PII synthesize them deterministically in-query (both engines
  * build the identical string), exercising the operator on content the
  * fixture lacks while staying bit-reproducible.
  */
object CurationQueries {

  /** Per-source keep rates for the mixing query (src0..src19 exist in the
    * fixture). Derived, not enumerated, so both engines agree by formula. */
  val MixRates: Map[String, Int] = (0 until 20).map(i => s"src$i" -> (90 - 4 * i)).toMap
  val MixDefault = 50
  val MixSalt = "mix"
  // q112 token budget the eff_epochs column is quoted against (1B tokens)
  val MixBudget = 1000000000L
  // q113 sampler budget: binds at both gate SFs (sf0.01 ≈ 25k corpus tokens)
  val SampleBudget = 20000L
  val BudgetSalt = "bs113"
  // q119 chunk grid: 64-token windows every 32 tokens (50% overlap)
  val ChunkTokens = 64
  val ChunkStride = 32
  // q121 vocabulary cut: the fixture corpus has 31 distinct [a-z]+ terms, so
  // a top-16 vocabulary leaves a real OOV tail at every gate SF
  val VocabV = 16
  // q125 epoch shuffle: shard count scales with the cluster, not the corpus
  val EpochSalt = "ep0"
  val EpochShards = 8
  // q129 collocation support floor
  val PmiMinSup = 2L
  // q130 mixture-materialization budget: ≈2 epochs/source at sf0.01 (25k
  // corpus tokens) and ≈0.2 at sf0.1 — exercises BOTH the repeat (e≥1) and
  // the subsample (e<1) branch across the gate SFs
  val EpochMatBudget = 50000L
  val EpochMatSalt = "em130"

  /** Blocklist for q75 (exact + subdomain matching, case-insensitive). */
  val UrlBlocklist: Seq[String] = Seq("spam.example.com", "ads.example.net")

  // PII injection suffix both engines append to `text` before scrubbing.
  private def injectSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-' || " +
      "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 from 10.0.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.77'"
  private def injectCol = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com or 555-"),
    lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-0199 from 10.0."),
    pmod(col("doc_id"), lit(256)).cast("string"), lit(".77"))

  val all: Seq[Q] = Seq(

    // ---- PII detection + redaction ---------------------------------------
    Q("q55_pii_redact",
      s"""WITH i AS (SELECT doc_id, $injectSql AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Curation.EmailPattern}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Curation.PhonePattern}')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Curation.Ipv4Pattern}')) AS INT) AS n_ips,
         |  ${Curation.redactPiiSql("t")} AS red_text
         |FROM i ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // stays: regex built-ins are no kernel to SplitAwareRepartition
      Tables.load(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), injectCol.as("t"))
        .select(col("doc_id"),
          Curation.piiCount(col("t"), Curation.EmailPattern).as("n_emails"),
          Curation.piiCount(col("t"), Curation.PhonePattern).as("n_phones"),
          Curation.piiCount(col("t"), Curation.Ipv4Pattern).as("n_ips"),
          Curation.redactPii(col("t")).as("red_text"))
        .orderBy("doc_id")
    },

    // ---- paragraph-level exact dedup -------------------------------------
    // 10-word chunks stand in for paragraphs (fixture is single-line); the
    // corpus-wide first occurrence of each paragraph digest survives.
    Q("q56_paragraph_dedup", {
      val chunks = Curation.wordChunksSql("text", 10)
      s"""WITH p AS (SELECT doc_id, $chunks AS paras FROM documents),
         |e AS (SELECT doc_id, unnest(generate_series(1, len(paras))) AS para_idx, paras FROM p),
         |h AS (SELECT doc_id, para_idx, md5(paras[CAST(para_idx AS INT)]) AS ph FROM e),
         |r AS (SELECT doc_id, para_idx,
         |        row_number() OVER (PARTITION BY ph ORDER BY doc_id, para_idx) AS rn FROM h)
         |SELECT doc_id, COUNT(*) AS n_paras,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val withParas = Tables.load(s, dir, "documents")
        .select(col("doc_id"), Curation.wordChunks(col("text"), 10).as("paras"))
      Curation.paragraphDedupStats(withParas, col("paras"), "doc_id")
        .orderBy("doc_id")
    },

    // ---- Gopher-style repetition metrics ---------------------------------
    Q("q57_repetition_metrics", {
      val lines = Curation.wordChunksSql("text", 5)
      val bigrams = Fns.wordShinglesSql("text", 2)
      val ws = "regexp_split_to_array(trim(text), '\\s+')"
      s"""WITH c AS (SELECT doc_id, $lines AS ls, $bigrams AS gs, $ws AS ws FROM documents)
         |SELECT doc_id,
         |  CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE) AS dup_line_frac,
         |  CAST(${Curation.topElementCountSql("gs")} AS DOUBLE) / CAST(len(gs) AS DOUBLE) AS top_bigram_frac,
         |  CAST(${Curation.topElementCountSql("ws")} AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS top_word_frac
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // the projection-boundary operator: interpreted HOF metrics (see
      // Curation.repetitionMetrics — the inlined form re-built the shingle
      // array per distinct element, ~50 ms/row at sf0.1)
      Curation.repetitionMetrics(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // ---- test-set decontamination ----------------------------------------
    // Held-out set = doc_id % 10 = 0; corpus docs sharing any distinct
    // 3-gram with it are contaminated. Gram distinct-ing happens on the
    // STRING level in both engines (per-row in Spark, (doc,gram) DISTINCT in
    // the oracle) so a later hashP collision affects both sides equally.
    Q("q58_decontaminate", {
      val shingles = Fns.wordShinglesSql("text", 3)
      s"""WITH sh AS (SELECT doc_id, $shingles AS gs FROM documents),
         |d AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)),
         |dh AS (SELECT doc_id, ${Fns.hashPSql("g")} AS gh FROM d),
         |tg AS (SELECT DISTINCT gh FROM dh WHERE doc_id % 10 = 0),
         |cg AS (SELECT doc_id, gh FROM dh WHERE doc_id % 10 <> 0)
         |SELECT doc_id, COUNT(*) AS n_hits
         |FROM cg JOIN tg USING (gh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.decontaminationHits(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "text", "doc_id", w = 3)
        .orderBy("doc_id")
    },

    // ---- deterministic hash sampling + weighted source mixing ------------
    Q("q59_mix_sample", {
      val bucket = Curation.hashBucketSql("doc_id", MixSalt)
      val rateCase = MixRates.toSeq.sortBy(_._1)
        .map { case (src, p) => s"WHEN '$src' THEN $p" }
        .mkString("CASE source ", " ", s" ELSE $MixDefault END")
      s"""SELECT doc_id, source FROM documents
         |WHERE $bucket < ($rateCase)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Curation.mixSources(Tables.load(s, dir, "documents"),
          "doc_id", "source", MixRates, MixDefault, MixSalt)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ---- int8 scalar-quantized KNN ---------------------------------------
    // SQ8 codes (4× smaller corpus vectors), integer-dot cosine, exact float
    // cosine alongside for re-rank/recall audit. All score math is exact
    // cross-engine: int dots are integers, the final division/sqrt are
    // single IEEE ops.
    Q("q66_quantized_knn", {
      def cosSql(aE: String, bE: String) =
        Fns.cosineSql(Fns.vecDSql(aE), Fns.vecDSql(bE))
      s"""WITH c AS (SELECT vec_id, embedding,
         |  ${graft.operators.Similarity.quantizeInt8Sql("embedding")} AS qv FROM embeddings),
         |q AS (SELECT qv AS qq, embedding AS qe FROM c WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  ${graft.operators.Similarity.quantizedCosineSql("c.qv", "q.qq")} AS qcos,
         |  ${cosSql("c.embedding", "q.qe")} AS cos
         |FROM c, q ORDER BY qcos DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, dir) =>
      import graft.operators.Similarity
      import graft.functions.VectorExprs
      // Self-dots are computed ONCE next to the codes — the scan-side score
      // is then a single fused integer dot per row; the query's self-dot
      // rides the broadcast row.
      val codes = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Similarity.quantizeInt8(col("embedding")).as("qv"))
        .withColumn("sd", VectorExprs.intDotF(col("qv"), col("qv")))
      val q = broadcast(codes.filter(col("vec_id") === 0)
        .select(col("qv").as("qq"), col("embedding").as("qe"), col("sd").as("qsd")))
      codes.crossJoin(q)
        .select(col("vec_id"),
          Similarity.quantizedCosineFromDots(
            VectorExprs.intDotF(col("qv"), col("qq")),
            col("sd"), col("qsd")).as("qcos"),
          VectorExprs.cosineF(col("embedding"), col("qe")).as("cos"))
        .orderBy(col("qcos").desc, col("vec_id"))
        .limit(10)
    },

    // ---- C4 boilerplate line removal -------------------------------------
    // Fixture text is punctuation-free word soup, so lines are synthesized
    // from 6-word chunks decorated deterministically from each chunk's OWN
    // length (both engines build the identical array): a 'cookie ' marker
    // prefix when length%5=0, a terminal '.' when length%3=0. The C4 rules
    // then keep exactly the punctuated, marker-free, ≥4-word lines.
    Q("q74_boilerplate", {
      val chunks = Curation.wordChunksSql("text", 6)
      val deco = "(CASE WHEN length(c) % 5 = 0 THEN 'cookie ' ELSE '' END) || c || " +
        "(CASE WHEN length(c) % 3 = 0 THEN '.' ELSE '' END)"
      s"""WITH c AS (SELECT doc_id, $chunks AS cs FROM documents),
         |l AS (SELECT doc_id, list_transform(cs, c -> $deco) AS ls FROM c),
         |k AS (SELECT doc_id, ls, ${Curation.removeBoilerplateLinesSql("ls", 4)} AS ks FROM l)
         |SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, CAST(len(ks) AS INT) AS n_kept,
         |  CAST(length(COALESCE(array_to_string(ks, ' '), '')) AS INT) AS kept_chars
         |FROM k ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val lines = transform(Curation.wordChunks(col("text"), 6), c =>
        concat(when(length(c) % 5 === 0, lit("cookie ")).otherwise(lit("")),
          c,
          when(length(c) % 3 === 0, lit(".")).otherwise(lit(""))))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), lines.as("ls"))
        .select(col("doc_id"), col("ls"),
          Curation.removeBoilerplateLines(col("ls"), minWords = 4).as("ks"))
        .select(col("doc_id"),
          size(col("ls")).as("n_lines"),
          size(col("ks")).as("n_kept"),
          length(concat_ws(" ", col("ks"))).as("kept_chars"))
        .orderBy("doc_id")
    },

    // ---- URL / domain blocklist filtering --------------------------------
    // No url column in the fixture → synthesize one per doc (same CASE in
    // both engines), covering exact-match, subdomain and case-variant hosts.
    // Blocked: doc_id%5 ∈ {0 exact, 1 subdomain, 3 case-variant}; kept: {2,4}.
    Q("q75_url_blocklist", {
      val hostCase = "CASE CAST(doc_id % 5 AS INT) " +
        "WHEN 0 THEN 'spam.example.com' WHEN 1 THEN 'tracker.ads.example.net' " +
        "WHEN 2 THEN 'docs.example.org' WHEN 3 THEN 'Ads.Example.NET' " +
        "ELSE 'news.example.dev' END"
      val urlE = s"'https://' || $hostCase || '/p/' || CAST(doc_id AS VARCHAR)"
      val hostE = Curation.urlHostSql("url")
      s"""WITH u AS (SELECT doc_id, $urlE AS url FROM documents)
         |SELECT doc_id, url, $hostE AS host FROM u
         |WHERE NOT ${Curation.hostBlockedSql(hostE, UrlBlocklist)}
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val host = when(pmod(col("doc_id"), lit(5)) === 0, lit("spam.example.com"))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit("tracker.ads.example.net"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit("docs.example.org"))
        .when(pmod(col("doc_id"), lit(5)) === 3, lit("Ads.Example.NET"))
        .otherwise(lit("news.example.dev"))
      val urls = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("https://"), host, lit("/p/"), col("doc_id").cast("string")).as("url"))
      Curation.filterBlockedUrls(urls, "url", UrlBlocklist)
        .withColumn("host", Curation.urlHost(col("url")))
        .orderBy("doc_id")
    },

    // ---- int4 (SQ4) packed quantized KNN ---------------------------------
    // Same audit shape as q66 one rung down the ladder: 4-bit codes packed
    // two-per-byte (8× smaller than floats), fused nibble-dot scoring, exact
    // float cosine alongside. The oracle scores UNPACKED code lists — dot of
    // code values ≡ dot of packed nibbles by construction.
    Q("q76_int4_knn", {
      def cosSql(aE: String, bE: String) =
        Fns.cosineSql(Fns.vecDSql(aE), Fns.vecDSql(bE))
      s"""WITH c AS (SELECT vec_id, embedding,
         |  ${graft.operators.Similarity.quantizeInt4Sql("embedding")} AS qv FROM embeddings),
         |q AS (SELECT qv AS qq, embedding AS qe FROM c WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  ${graft.operators.Similarity.quantizedCosineSql("c.qv", "q.qq")} AS q4cos,
         |  ${cosSql("c.embedding", "q.qe")} AS cos
         |FROM c, q ORDER BY q4cos DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, dir) =>
      import graft.operators.Similarity
      import graft.functions.VectorExprs
      val codes = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Similarity.quantizeInt4(col("embedding")).as("qv"))
        .withColumn("sd", VectorExprs.int4DotF(col("qv"), col("qv")))
      val q = broadcast(codes.filter(col("vec_id") === 0)
        .select(col("qv").as("qq"), col("embedding").as("qe"), col("sd").as("qsd")))
      codes.crossJoin(q)
        .select(col("vec_id"),
          Similarity.quantizedCosineFromDots(
            VectorExprs.int4DotF(col("qv"), col("qq")),
            col("sd"), col("qsd")).as("q4cos"),
          VectorExprs.cosineF(col("embedding"), col("qe")).as("cos"))
        .orderBy(col("q4cos").desc, col("vec_id"))
        .limit(10)
    },

    // ---- product-quantized (PQ) KNN --------------------------------------
    // Top rung of the quantization ladder (q66 SQ8 → q76 SQ4 → PQ): 8
    // subspaces × 16-entry codebook (the 16 lowest-id vectors) → 8 small
    // ints per vector (~32× less than floats at dim 64). Scoring is ADC —
    // per-query lookup tables, M table reads per corpus row, zero float
    // math against the corpus. Exact float cosine alongside for the
    // re-rank/recall audit, same shape as q66/q76. All folds (L2 encode,
    // LUT entries, LUT sum) are left-to-right in both engines → bit-exact.
    Q("q77_pq_knn", {
      import graft.operators.Similarity
      val (m, d, k) = (8, 8, 16)
      s"""WITH v AS (SELECT vec_id, ${Fns.vecDSql("embedding")} AS emb FROM embeddings),
         |cb AS (SELECT list(emb ORDER BY vec_id) AS cbs FROM v WHERE vec_id < $k),
         |enc AS (SELECT vec_id, emb, ${Similarity.pqEncodeSql("emb", "cbs", m, d, k)} AS codes
         |        FROM v, cb),
         |q AS (SELECT emb AS qemb FROM v WHERE vec_id = 0),
         |lut AS (SELECT ${Similarity.pqDotLutSql("cbs", "qemb", m, d, k)} AS dlut,
         |               ${Similarity.pqNormLutSql("cbs", m, d, k)} AS nlut,
         |               ${Fns.dotSql("qemb", "qemb")} AS qn2 FROM cb, q)
         |SELECT e.vec_id,
         |  (${Similarity.pqLutSumSql("lut.dlut", "e.codes", m)} /
         |   GREATEST(sqrt(${Similarity.pqLutSumSql("lut.nlut", "e.codes", m)} * lut.qn2), 1e-30)) AS pqcos,
         |  ${Fns.cosineSql("e.emb", "q.qemb")} AS cos
         |FROM enc e, lut, q ORDER BY pqcos DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, dir) =>
      import graft.operators.Similarity
      import graft.functions.VectorExprs
      val (m, k) = (8, 16)
      val emb = Tables.load(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "embedding", "vec_id", k)
      // stays: the encode sits above a cross join, out of SplitAwareRepartition's reach
      val codes = emb.repartition(s.sparkContext.defaultParallelism)
        .crossJoin(cb)
        .select(col("vec_id"), col("embedding"),
          VectorExprs.pqEncodeF(col("embedding"), col("__cbs"), m).as("codes"))
      val q = broadcast(emb.filter(col("vec_id") === 0).crossJoin(cb)
        .select(col("embedding").as("qe"),
          Similarity.pqDotLut(col("__cbs"), Fns.vecD(col("embedding")), m).as("dlut"),
          Similarity.pqNormLut(col("__cbs"), m).as("nlut"),
          VectorExprs.dotF(col("embedding"), col("embedding")).as("qn2")))
      codes.crossJoin(q)
        .select(col("vec_id"),
          Similarity.quantizedCosineFromDots(
            VectorExprs.lutSumF(col("codes"), col("dlut")),
            VectorExprs.lutSumF(col("codes"), col("nlut")),
            col("qn2")).as("pqcos"),
          VectorExprs.cosineF(col("embedding"), col("qe")).as("cos"))
        .orderBy(col("pqcos").desc, col("vec_id"))
        .limit(10)
    },

    // ---- cross-document duplicated-span metric ---------------------------
    // Per-doc fraction of distinct 3-grams that occur in ≥1 other document
    // (gdf>1 corpus-wide) — the span-level memorization metric behind
    // substring-dedup pipelines (Lee et al. 2022). Same gram-hash lineage
    // as q58; dup_frac is one IEEE division of two exact longs.
    Q("q78_dup_span_fraction", {
      val shingles = Fns.wordShinglesSql("text", 3)
      s"""WITH sh AS (SELECT doc_id, $shingles AS gs FROM documents),
         |d AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)),
         |dh AS (SELECT doc_id, ${Fns.hashPSql("g")} AS gh FROM d),
         |f AS (SELECT gh, COUNT(*) AS gdf FROM dh GROUP BY gh)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN f.gdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  (CAST(SUM(CASE WHEN f.gdf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) AS dup_frac
         |FROM dh JOIN f USING (gh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Curation.dupSpanStats(docs, "text", "doc_id", w = 3)
        .orderBy("doc_id")
    },

    // ---- exact per-source length quantiles -------------------------------
    // Discrete quantile at rank ⌈p·n⌉ per source over (tokens, doc_id) —
    // rank arithmetic is pure integers in both engines (no float quantile
    // interpolation, whose op order is engine-specific).
    Q("q79_length_quantiles", {
      val tokensE = """CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)"""
      val inner = TextAnalysis.lengthQuantilesSql("documents", "source", "doc_id", tokensE)
      s"""SELECT g AS source, pl, tokens FROM ($inner)
         |ORDER BY source, pl""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.lengthQuantiles(Tables.load(s, dir, "documents"),
          "source", "doc_id", TextAnalysis.wsTokenCount(col("text")))
        .orderBy("source", "pl")
    },

    // ---- sequence packing (token binning) --------------------------------
    // Docs concatenated per source in doc_id order, chunked into 256-token
    // budgets; each doc reports its bin and intra-bin offset.
    Q("q67_token_packing",
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum
        |      FROM t)
        |SELECT source, doc_id, n_tokens,
        |  CAST(FLOOR(cum / 256.0) AS BIGINT) AS bin_id,
        |  CAST(cum % 256 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.packSequences(Tables.load(s, dir, "documents"),
          "doc_id", "source", TextAnalysis.wsTokenCount(col("text")), budget = 256)
        .select("source", "doc_id", "n_tokens", "bin_id", "bin_offset")
        .orderBy("doc_id")
    },

    // ---- TF-IDF ----------------------------------------------------------
    // tf·ln(N/df). A cross-engine `ln` is not bit-reproducible (libm vs
    // java.lang.Math, ±1 ulp), so the score is emitted as a %.6f-formatted
    // string: both engines round the exact binary double to 6 decimals, and
    // a 1-ulp input wobble only flips the output within ~1e-16 of a decimal
    // boundary — vanishing at this precision. tf/df/N stay exact BIGINTs.
    Q("q49_tf_idf",
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  printf('%.6f', CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))) AS tfidf
        |FROM tf JOIN df USING (term), n
        |WHERE tf.doc_id < 100
        |ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val tf = TextAnalysis.termFreq(docs, "text", "doc_id")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // df is corpus-wide (semantics), the doc_id<100 cut applies to tf only;
      // the tiny N aggregate broadcasts.
      tf.filter(col("doc_id") < 100)
        .join(TextAnalysis.docFreq(tf), "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          format_string("%.6f",
            col("tf").cast("double")
              * log(col("n_docs").cast("double") / col("df").cast("double"))).as("tfidf"))
        .orderBy("doc_id", "term")
    },

    // ---- BM25 retrieval scoring ------------------------------------------
    // Okapi BM25 over the corpus TF/DF stats (Lucene idf form). tf/df/dl
    // stay exact BIGINTs; the score string is %.6f-formatted for the same
    // reason as q49 (cross-engine ln is ±1 ulp). The doc_id<100 cut applies
    // to tf only — df/dl/avgdl stay corpus-wide (retrieval semantics).
    Q("q81_bm25", {
      val inner = TextAnalysis.bm25Sql("documents", "text", "doc_id")
      s"""SELECT id AS doc_id, term, tf, df, dl, printf('%.6f', bm25) AS bm25
         |FROM ($inner)
         |WHERE id < 100 ORDER BY doc_id, term""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.bm25(Tables.load(s, dir, "documents"), "text", "doc_id")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
          format_string("%.6f", col("bm25")).as("bm25"))
        .orderBy("doc_id", "term")
    },

    // ---- sparse-cosine retrieval (inverted-index top-k) -------------------
    // Top-5 nearest docs per query doc (doc_id < 10) by tf-vector cosine via
    // a posting-list join — the sparse counterpart to the dense KNN family
    // (q40/q42): dot and norms are exact int64, the cosine one IEEE
    // division, the ranking the bounded-heap top-k aggregate with the
    // (cos DESC, id) contract mirrored by the oracle's row_number.
    Q("q92_sparse_retrieval", {
      val inner = TextAnalysis.sparseCosineTopKSql("documents", "text", "doc_id",
        queryPredE = "id < 10", k = 5)
      s"""SELECT qid, id AS doc_id, cos, rn FROM ($inner)
         |ORDER BY qid, rn""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.sparseCosineTopK(docs, docs.filter(col("doc_id") < 10),
          "text", "doc_id", k = 5)
        .orderBy("qid", "rn")
    },

    // ---- bigram LM scoring ------------------------------------------------
    // Conditional-probability rung above q87: per-doc Σ tf·⌊ln(c(w1w2)/c(w1·))·1e6⌋
    // with the context marginal derived from the bigram table. Micro-nat
    // integer quantization keeps the per-doc sum order-independent.
    Q("q95_bigram_lm", {
      val inner = TextAnalysis.bigramLogProbMicroSql("documents", "text", "doc_id")
      s"""SELECT id AS doc_id, n_bigrams, lp_micro
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.bigramLogProbMicro(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // ---- Gopher rule filter (keep/drop with reasons) ----------------------
    // Token-count band [30,90], mean word length in [3.9,5.0], top-word
    // fraction ≤ 0.11 — thresholds chosen to split the fixture both ways.
    // Verdicts evaluate in EXACT int64 rational arithmetic (den·sum < num·n),
    // so the reasons bitmask has no float-boundary risk; the reported
    // ratios are informational single divisions.
    Q("q98_gopher_filter", {
      val inner = Curation.gopherFilterSql("documents", "text", "doc_id",
        minTokens = 30, maxTokens = 90,
        meanLenMin = (39, 10), meanLenMax = (50, 10), topWordMax = (11, 100))
      s"""SELECT id AS doc_id, n_tokens, mean_len, top_word_frac, reasons, keep
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Curation.gopherFilter(Tables.load(s, dir, "documents"), "text", "doc_id",
          minTokens = 30, maxTokens = 90,
          meanLenMin = (39, 10), meanLenMax = (50, 10), topWordMax = (11, 100))
        .orderBy("doc_id")
    },

    // ---- URL canonicalization --------------------------------------------
    // No url column in the fixture → synthesize one per doc (same CASE in
    // both engines) covering every rewrite rule: scheme/host case, default
    // vs non-default ports, fragments, utm params (lone, leading, multiple),
    // trailing slash on non-root vs root paths.
    Q("q99_url_canonicalize", {
      val id = "CAST(doc_id AS VARCHAR)"
      val urlE = "CASE CAST(doc_id % 6 AS INT) " +
        s"WHEN 0 THEN 'HTTP://Example.COM:80/a' || $id || '/b/' " +
        s"WHEN 1 THEN 'https://x.example.org:443/p?utm_source=feed&id=' || $id " +
        s"WHEN 2 THEN 'https://news.example.dev/a?id=' || $id || '&utm_campaign=x#frag' " +
        s"WHEN 3 THEN 'http://example.com/a' || $id || '?utm_a=1&utm_b=2' " +
        s"WHEN 4 THEN 'https://Example.net:8080/Keep' || $id || '/Case/' " +
        s"ELSE 'http://example' || $id || '.com/' END"
      s"""WITH u AS (SELECT doc_id, $urlE AS url FROM documents)
         |SELECT doc_id, url, ${Curation.canonicalizeUrlSql("url")} AS canon
         |FROM u ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val id = col("doc_id").cast("string")
      val url = when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit("HTTP://Example.COM:80/a"), id, lit("/b/")))
        .when(pmod(col("doc_id"), lit(6)) === 1,
          concat(lit("https://x.example.org:443/p?utm_source=feed&id="), id))
        .when(pmod(col("doc_id"), lit(6)) === 2,
          concat(lit("https://news.example.dev/a?id="), id, lit("&utm_campaign=x#frag")))
        .when(pmod(col("doc_id"), lit(6)) === 3,
          concat(lit("http://example.com/a"), id, lit("?utm_a=1&utm_b=2")))
        .when(pmod(col("doc_id"), lit(6)) === 4,
          concat(lit("https://Example.net:8080/Keep"), id, lit("/Case/")))
        .otherwise(concat(lit("http://example"), id, lit(".com/")))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("canon", Curation.canonicalizeUrl(col("url")))
        .orderBy("doc_id")
    },

    // ---- hashed linear quality classifier --------------------------------
    // fastText-style inference: token → hash bucket → weight, doc score =
    // exact int64 weight sum, label = sign. Weights are a closed-form
    // function of the bucket so the oracle is expressible; a trained model
    // drops its weight vector into the same plan literal. Zero shuffle —
    // the whole thing runs inside the scan stage.
    Q("q83_hash_classifier", {
      val inner = TextAnalysis.hashedLinearScoreSql("documents", "text", "doc_id")
      s"""SELECT id AS doc_id, n_tokens, score_raw, label
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.hashedLinearScore(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // ---- fixed-size stratified sampling ----------------------------------
    // Exactly min(10, |source|) docs per source by salted-hash rank — the
    // "n per stratum" complement of q59's rate-based mixing. Deterministic
    // by construction (rank key is a pure function of salt+id) and
    // rank-prefix monotone: growing n only adds rows.
    Q("q84_stratified_sample", {
      val inner = Curation.stratifiedSampleSql("documents", "source", "doc_id",
        n = 10, salt = "s84")
      s"""SELECT source, doc_id, rk FROM ($inner)
         |ORDER BY source, rk""".stripMargin
    }) { (s, dir) =>
      Curation.stratifiedSample(Tables.load(s, dir, "documents"),
          "source", "doc_id", n = 10, salt = "s84")
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    },

    // ---- unigram LM log-probability scoring -------------------------------
    // KenLM-shaped quality filter: corpus unigram stats → per-doc
    // Σ tf·⌊ln(ctf/total)·1e6⌋. The per-term log is quantized to exact
    // integer micro-nats, so the per-doc sum is order-independent (a raw
    // double Σln would hash-diverge on partial-agg ordering).
    Q("q87_unigram_logprob", {
      val inner = TextAnalysis.unigramLogProbMicroSql("documents", "text", "doc_id")
      s"""SELECT id AS doc_id, n_tokens, lp_micro
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.unigramLogProbMicro(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },

    // ---- foreign-LM scoring (CCNet-shaped reference filter) ---------------
    // Score EVERY document against a unigram LM built from the src0 slice
    // only — the clean-reference-corpus filter; OOV tokens floor at
    // ⌊ln(1/(total+1))·1e6⌋, below every in-vocabulary term. n_oov doubles
    // as a vocabulary-coverage signal.
    Q("q89_lm_score_foreign", {
      val lmSql = """SELECT term, CAST(COUNT(*) AS BIGINT) AS ctf
                    |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                    |      FROM documents WHERE source = 'src0')
                    |GROUP BY term""".stripMargin
      val inner = TextAnalysis.unigramLogProbAgainstSql("documents", "text", "doc_id", lmSql)
      s"""SELECT id AS doc_id, n_tokens, lp_micro, n_oov
         |FROM ($inner) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val lm = docs.filter(col("source") === "src0")
        .select(explode(TextAnalysis.words(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ctf"))
      TextAnalysis.unigramLogProbAgainst(docs, lm, "text", "doc_id")
        .orderBy("doc_id")
    },

    // ---- composite: the round-8 ops chained end-to-end --------------------
    // Learned-filter gate (hashed classifier, label=1) → fixed-size
    // stratified sample (20/source) → sequence packing (256-token bins) →
    // per-source packing report. The q80 composability demonstration for
    // the newer pack: every stage is the SAME operator the standalone
    // queries declare, so the oracle is the same SQL builders composed.
    Q("q90_curate_pack_pipeline", {
      val hc = TextAnalysis.hashedLinearScoreSql("documents", "text", "doc_id")
      val samp = Curation.stratifiedSampleSql("k", "source", "doc_id", n = 20, salt = "s90")
      s"""WITH hc AS ($hc),
         |kept AS (SELECT id AS doc_id FROM hc WHERE label = 1),
         |k AS (SELECT d.source, d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
         |samp AS ($samp),
         |t AS (SELECT source, doc_id,
         |        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens FROM samp),
         |c AS (SELECT source, doc_id, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum
         |      FROM t)
         |SELECT source, COUNT(*) AS n_docs,
         |  MAX(CAST(FLOOR(cum / 256.0) AS BIGINT)) + 1 AS n_bins,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val kept = TextAnalysis.hashedLinearScore(docs, "text", "doc_id")
        .filter(col("label") === 1).select("doc_id")
      val sampled = Curation.stratifiedSample(
        docs.join(kept, "doc_id"), "source", "doc_id", n = 20, salt = "s90")
      Curation.packSequences(sampled, "doc_id", "source",
          TextAnalysis.wsTokenCount(col("text")), budget = 256)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (max(col("bin_id")) + 1).as("n_bins"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy("source")
    },

    // ---- per-host crawl report --------------------------------------------
    // The domain-level corpus breakdown every crawl pipeline runs before
    // filtering decisions: host (via the urlHost operator on a synthesized
    // URL — the fixture has no url column), doc count, distinct sources,
    // exact token totals. All counts int64; one shuffle on the host key
    // with map-side combine — at 100 TB the host cardinality (~1e7) is tiny
    // against the corpus, so the agg output is negligible.
    Q("q101_host_report", {
      val hostCase = "CASE CAST(doc_id % 5 AS INT) " +
        "WHEN 0 THEN 'spam.example.com' WHEN 1 THEN 'tracker.ads.example.net' " +
        "WHEN 2 THEN 'docs.example.org' WHEN 3 THEN 'Ads.Example.NET' " +
        "ELSE 'news.example.dev' END"
      val urlE = s"'https://' || $hostCase || '/p/' || CAST(doc_id AS VARCHAR)"
      s"""WITH hr_u AS (SELECT doc_id, source,
         |    len(regexp_extract_all(lower(text), '[a-z]+')) AS toks, $urlE AS url
         |  FROM documents)
         |SELECT ${Curation.urlHostSql("url")} AS host,
         |  COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
         |  CAST(SUM(toks) AS BIGINT) AS total_tokens
         |FROM hr_u GROUP BY host ORDER BY host""".stripMargin
    }) { (s, dir) =>
      val hostLit = when(pmod(col("doc_id"), lit(5)) === 0, lit("spam.example.com"))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit("tracker.ads.example.net"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit("docs.example.org"))
        .when(pmod(col("doc_id"), lit(5)) === 3, lit("Ads.Example.NET"))
        .otherwise(lit("news.example.dev"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.words(col("text"))).cast("long").as("toks"),
          concat(lit("https://"), hostLit, lit("/p/"),
            col("doc_id").cast("string")).as("url"))
        .groupBy(Curation.urlHost(col("url")).as("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("toks")).cast("long").as("total_tokens"))
        .orderBy("host")
    },

    // ---- per-source unigram entropy ---------------------------------------
    // Shannon entropy of each source's term distribution — the diversity
    // signal behind mixture-weight tuning (a low-entropy source is
    // boilerplate-heavy). Per-term surprisal is micro-nat-quantized to
    // int64 (q87's trick) so the per-source sum is order-independent and
    // engine-exact; the reported entropy is that exact sum through two
    // IEEE divisions. Scale: term-shaped shuffles with map-side combine
    // only; nothing corpus-sized crosses the wire.
    Q("q104_source_entropy", {
      val wordsE = "regexp_extract_all(lower(text), '[a-z]+')"
      s"""WITH se_t AS (SELECT source, unnest($wordsE) AS term FROM documents),
         |se_ctf AS (SELECT source, term, COUNT(*) AS ctf FROM se_t GROUP BY source, term),
         |se_tot AS (SELECT source, CAST(SUM(ctf) AS BIGINT) AS total,
         |    COUNT(*) AS n_terms FROM se_ctf GROUP BY source),
         |se_e AS (SELECT c.source,
         |    CAST(-SUM(ctf * CAST(FLOOR(ln(CAST(ctf AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) AS ent_sum_micro
         |  FROM se_ctf c JOIN se_tot t ON c.source = t.source GROUP BY c.source)
         |SELECT source, n_terms, total AS n_tokens, ent_sum_micro,
         |  printf('%.6f', CAST(ent_sum_micro AS DOUBLE) / CAST(total AS DOUBLE) / 1000000.0) AS entropy_nats
         |FROM se_e JOIN se_tot USING (source) ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val ctf = docs
        .select(col("source"), explode(TextAnalysis.words(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("ctf"))
      val tot = ctf.groupBy("source").agg(
        sum(col("ctf")).cast("long").as("total"), count(lit(1)).as("n_terms"))
      val ent = ctf.join(tot, "source")
        .groupBy(col("source"))
        .agg((-sum(col("ctf") *
            floor(log(col("ctf").cast("double") / col("total").cast("double"))
              * lit(1000000.0)).cast("long"))).as("ent_sum_micro"))
      ent.join(tot, "source")
        .select(col("source"), col("n_terms"), col("total").as("n_tokens"),
          col("ent_sum_micro"),
          format_string("%.6f", col("ent_sum_micro").cast("double")
            / col("total").cast("double") / lit(1000000.0)).as("entropy_nats"))
        .orderBy("source")
    },

    // ---- TRUE STREAMING stateless curation (PII redact) -------------------
    // Fourth real-streaming-engine execution, and the first STATELESS one:
    // q73/q82/q93 prove watermarked aggregation, dedup state, and session
    // windows through the actual engine; this proves the per-row curation
    // pack (here [[Curation.redactPii]], the q55 op on the q55 injection)
    // composes with readStream unchanged — file-source stream → per-row
    // redact → append-mode foreachBatch sink under Trigger.AvailableNow,
    // sink read back as the declared result. No state, no watermark: at
    // scale this is the unbounded landing-folder scrub job, embarrassingly
    // parallel, whose output is batch-bit-identical by construction — which
    // is exactly what the oracle checks.
    Q("q105_streaming_redact",
      s"""WITH i AS (SELECT doc_id, $injectSql AS t FROM documents)
         |SELECT doc_id, ${Curation.redactPiiSql("t")} AS red_text
         |FROM i ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scratch = new graft.Session.Scratch // janitor-prefixed tmp (C5)
      val sink = s"${scratch.dir}/stream_redact"
      val chk = s"${scratch.dir}/chk"
      graft.streaming.Streams.runAvailableNow(s, sink, chk, outputMode = "append") {
        val schema = graft.sources.FooterSchema.require(s, Tables.path(dir, "documents"))
        s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .select(col("doc_id"), injectCol.as("t"))
          .select(col("doc_id"), Curation.redactPii(col("t")).as("red_text"))
      }.orderBy("doc_id")
    },

    // ---- span-level dedup APPLY (Lee et al. 2022) -------------------------
    // The substring form of dedup: q78 measures per-doc duplicated-span
    // fractions and drops whole documents; THIS query rewrites the corpus —
    // every token covered by a cross-document 3-gram is removed from all
    // but the gram's first-occurrence doc. Output carries the cleaned text
    // itself, so the oracle hash-checks the rewritten corpus byte-for-byte.
    Q("q106_dup_span_removal", {
      s"""SELECT id AS doc_id, n_tokens, n_kept, text_clean
         |FROM (${Curation.removeDupSpansSql("documents", "text", "doc_id", 3)})
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Curation.removeDupSpans(Tables.load(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy("doc_id")
    },

    // ---- temperature mixture weights (α = 1/2) ----------------------------
    // The multilingual-LM mixture rule: w_s ∝ n_s^α up-weights small sources.
    // α is pinned to 1/2 because sqrt is correctly rounded in both engines
    // (pow is not); numerators are ⌊·1e6⌋-quantized and summed as exact
    // int64, so every weight is one identical IEEE division in both engines.
    Q("q112_mixture_weights", {
      val mw = Curation.mixtureWeightsSql("documents", "text", "source", MixBudget)
      s"SELECT * FROM ($mw) ORDER BY source"
    }) { (s, dir) =>
      Curation.mixtureWeights(Tables.load(s, dir, "documents"), "text", "source",
          MixBudget)
        .orderBy("source")
    },

    // ---- greedy token-budget sampler (q112's weights driving a sampler) ---
    // Each source gets ⌊w_temp·budget⌋ tokens; docs are taken in salted-hash
    // order until the running count reaches it (boundary doc included). The
    // summary reports kept docs/tokens against each budget — kept_tokens
    // tracks budget_tokens to within one document's length.
    Q("q113_budget_sample", {
      val bs = Curation.budgetSampleSql("documents", "text", "doc_id", "source",
        SampleBudget, BudgetSalt)
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
         |  MIN(budget_tokens) AS budget_tokens
         |FROM ($bs) GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      Curation.budgetSample(Tables.load(s, dir, "documents"), "text", "doc_id",
          "source", SampleBudget, BudgetSalt)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"),
          min("budget_tokens").as("budget_tokens"))
        .orderBy("source")
    },

    // ---- sliding-window chunking (embedding-model context cut) ------------
    // 64-token chunks every 32 tokens (50% overlap); chunk text re-emitted
    // so the oracle hash-checks the cut corpus byte-for-byte. Pure per-row
    // Generate in the scan stage — no shuffle, no state.
    Q("q119_chunk_overlap", {
      val cs = Curation.chunkSlidingSql("documents", "text", "doc_id",
        ChunkTokens, ChunkStride)
      s"""SELECT id AS doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text
         |FROM ($cs) ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, dir) =>
      Curation.chunkSliding(Tables.load(s, dir, "documents"),
          "text", "doc_id", ChunkTokens, ChunkStride)
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- per-source KL divergence vs the corpus distribution --------------
    // KL(p_source ‖ p_corpus) over unigram term distributions — the
    // mixture-design drift signal q104's entropy doesn't give (entropy says
    // "diverse", KL says "diverse AND different from the pool"). Per-term
    // contributions are ⌊·1e9⌋-quantized nano-nats (ratios formed from
    // exact int64 products, ONE ln + two IEEE multiplies per term), so the
    // per-source sum is order-independent and hash-exact. p_source is
    // absolutely continuous wrt p_corpus by construction (every source term
    // is a corpus term), so no term needs smoothing. NO pretty '%.6f'
    // column: nano÷1e9 lands EXACTLY on 6-decimal midpoints whenever the
    // int ends in 500, and Java %.6f (shortest-repr HALF_UP) then rounds up
    // while C printf (exact binary expansion) rounds down — found as a 1-ulp
    // sf0.1 hash miss. q104 survives its printf because it divides by a
    // non-power-of-10 total first; dividing an integer by a pure 10^k is
    // the midpoint-prone case.
    Q("q120_source_kl", {
      val wordsE = "regexp_extract_all(lower(text), '[a-z]+')"
      s"""WITH kl_t AS (SELECT source, unnest($wordsE) AS term FROM documents),
         |kl_s AS (SELECT source, term, COUNT(*) AS tf FROM kl_t GROUP BY source, term),
         |kl_ns AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS ns,
         |    COUNT(*) AS n_terms FROM kl_s GROUP BY source),
         |kl_c AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM kl_s GROUP BY term),
         |kl_nc AS (SELECT CAST(SUM(ns) AS BIGINT) AS nc FROM kl_ns),
         |kl_x AS (SELECT s.source,
         |    CAST(FLOOR(ln(CAST(s.tf * nc AS DOUBLE) / CAST(c.cf * n.ns AS DOUBLE))
         |      * (CAST(s.tf AS DOUBLE) / CAST(n.ns AS DOUBLE)) * 1e9) AS BIGINT) AS c_nano
         |  FROM kl_s s JOIN kl_c c USING (term) JOIN kl_ns n USING (source), kl_nc),
         |kl_sum AS (SELECT source, CAST(SUM(c_nano) AS BIGINT) AS kl_sum_nano
         |  FROM kl_x GROUP BY source)
         |SELECT source, n_terms, ns AS n_tokens, kl_sum_nano
         |FROM kl_sum JOIN kl_ns USING (source) ORDER BY source""".stripMargin
    }) { (s, dir) =>
      // Pin the (source, term, tf) table once (the q117/q169 discipline):
      // it feeds ns (consumed 3×), cf, and the contribution join — left
      // lazy, each consumer re-derived the full tokenize+explode+count pass
      // over the corpus (plan was 404 lines / 32 Exchanges / 10 scans;
      // first run 9.9 s). Pinned payload is per-(source, term) counts —
      // vocabulary-sized, never the corpus.
      val tf = Tables.load(s, dir, "documents")
        .select(col("source"), explode(TextAnalysis.words(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val ns = tf.groupBy("source")
        .agg(sum(col("tf")).cast("long").as("ns"), count(lit(1)).as("n_terms"))
      val cf = tf.groupBy("term").agg(sum(col("tf")).cast("long").as("cf"))
      val nc = broadcast(ns.agg(sum(col("ns")).cast("long").as("nc")))
      val contrib = tf.join(cf, "term").join(ns, "source").crossJoin(nc)
        .select(col("source"),
          floor(log((col("tf") * col("nc")).cast("double")
              / (col("cf") * col("ns")).cast("double"))
            * (col("tf").cast("double") / col("ns").cast("double")) * lit(1e9))
            .cast("long").as("c_nano"))
      contrib.groupBy("source").agg(sum(col("c_nano")).as("kl_sum_nano"))
        .join(ns, "source")
        .select(col("source"), col("n_terms"), col("ns").as("n_tokens"),
          col("kl_sum_nano"))
        .orderBy("source")
    },

    // ---- top-V vocabulary coverage ----------------------------------------
    // The tokenizer-design report: corpus top-16 term vocabulary (tf-desc,
    // lexicographic tiebreak — a total-ordered cut), then per-source token /
    // OOV-token / distinct-OOV-term counts. Vocabulary is a global top-V
    // (TakeOrderedAndProject) broadcast into the coverage join; all-integer
    // output.
    Q("q121_vocab_coverage", {
      val vc = TextAnalysis.vocabCoverageSql("documents", "text", "source", VocabV)
      s"""SELECT g AS source, n_tokens, n_oov, n_oov_terms FROM ($vc)
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.load(s, dir, "documents"), "text",
          "source", VocabV)
        .orderBy("source")
    },

    // ---- tokenizer fertility ----------------------------------------------
    // BPE-ish regex tokens vs whitespace tokens vs chars per source; the
    // fertility / chars-per-token doubles are each ONE IEEE division of
    // identical exact int64 sums, so they hash bit-for-bit cross-engine.
    Q("q124_tokenizer_fertility", {
      val tf = TextAnalysis.tokenizerFertilitySql("documents", "text", "source")
      s"""SELECT g AS source, n_bpe_tokens, n_ws_tokens, n_chars,
         |  fertility, chars_per_token FROM ($tf)
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.load(s, dir, "documents"), "text",
          "source")
        .orderBy("source")
    },

    // ---- deterministic epoch shuffle --------------------------------------
    // The training-epoch corpus permutation: shard + dense in-shard position,
    // both pure functions of (salt, doc_id) — retry/partitioning-immune and
    // fully auditable; a new salt is a fresh epoch. Partitioned window only,
    // never a global sort.
    Q("q125_epoch_shuffle", {
      val es = Curation.epochShuffleSql("documents", "doc_id", EpochSalt, EpochShards)
      s"""SELECT id AS doc_id, shard, pos FROM ($es)
         |ORDER BY shard, pos""".stripMargin
    }) { (s, dir) =>
      Curation.epochShuffle(Tables.load(s, dir, "documents"), "doc_id",
          EpochSalt, EpochShards)
        .orderBy("shard", "pos")
    },

    // ---- classifier-score quality quartiles -------------------------------
    // The curriculum/threshold-picking report: per-source quartiles of the
    // q83 hashed-classifier score (exact int64, so the ntile order
    // (score, doc_id) is total and cross-engine identical), with per-bin
    // doc counts, score range, and token mass. Partitioned window — each
    // source ranks independently; no global sort.
    Q("q126_quality_quartiles", {
      val hs = TextAnalysis.hashedLinearScoreSql("documents", "text", "doc_id")
      s"""WITH qq_d AS (SELECT d.source, s.id, s.score_raw, s.n_tokens,
         |    CAST(ntile(4) OVER (PARTITION BY d.source
         |      ORDER BY s.score_raw, s.id) AS BIGINT) AS quartile
         |  FROM ($hs) s JOIN documents d ON d.doc_id = s.id)
         |SELECT source, quartile, COUNT(*) AS n_docs,
         |  MIN(score_raw) AS min_score, MAX(score_raw) AS max_score,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM qq_d GROUP BY source, quartile
         |ORDER BY source, quartile""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val hs = TextAnalysis.hashedLinearScore(docs, "text", "doc_id")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score_raw"), col("doc_id"))
      docs.select(col("doc_id"), col("source")).join(hs, "doc_id")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy("source", "quartile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_raw")).as("min_score"),
          max(col("score_raw")).as("max_score"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .orderBy("source", "quartile")
    },

    // ---- PMI collocations -------------------------------------------------
    // Document-level pointwise mutual information over within-doc distinct
    // term pairs (the word2vec-phrases signal): exact int64 doc-frequency
    // products, ONE ln per pair, ⌊·1e6⌋ micro-nats (q120 shape).
    Q("q129_pmi_pairs", {
      val pm = TextAnalysis.pmiPairsSql("documents", "text", "doc_id", PmiMinSup)
      s"""SELECT term_a, term_b, n_ab, n_a, n_b, pmi_micro FROM ($pm)
         |ORDER BY term_a, term_b""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.pmiPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
          PmiMinSup)
        .orderBy("term_a", "term_b")
    },

    // ---- mixture materialization (epochs → actual repeated corpus) --------
    // q112 computes epochs-per-source; THIS emits the repeated corpus a
    // trainer streams: ⌊e⌋ copies per doc plus a deterministic per-doc
    // Bernoulli top-up on frac(e) — up-sampling small sources by repetition,
    // subsampling when e < 1. Copy counts derive from the q112 IEEE chain +
    // a (salt,id) hash: retry/partitioning-immune, engine-exact.
    Q("q130_materialize_epochs", {
      val me = Curation.materializeEpochsSql("documents", "text", "doc_id",
        "source", EpochMatBudget, EpochMatSalt)
      s"""SELECT id AS doc_id, source, copy_idx FROM ($me)
         |ORDER BY doc_id, copy_idx""".stripMargin
    }) { (s, dir) =>
      Curation.materializeEpochs(Tables.load(s, dir, "documents"), "text",
          "doc_id", "source", EpochMatBudget, EpochMatSalt)
        .orderBy("doc_id", "copy_idx")
    },

    // ---- deterministic reservoir sample -----------------------------------
    // Exact-k uniform draw without a global sort: priority = hashP(salt||id),
    // k smallest win — Spark compiles orderBy+limit to TakeOrderedAndProject
    // (bounded k-row heap per task, k·tasks driver merge; a 100 TB scan
    // never shuffles its data). Complements hashSample (≈pct%, no exact
    // count) and budgetSample (token-budget greedy): this is the "give me
    // exactly k documents, reproducibly" face. Same salt → same sample on
    // any partitioning/retry; the oracle replays the identical priorities.
    Q("q151_reservoir_sample", {
      val rs = Curation.reservoirSampleSql("documents", "doc_id", 64, "q151")
      s"""SELECT doc_id, lang, source, n_chars FROM ($rs) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Curation.reservoirSample(Tables.load(s, dir, "documents"),
          "doc_id", k = 64, salt = "q151")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---- deterministic MLM-style token masking ----------------------------
    // BERT/T5-style corruption as a corpus rewrite: token w masks when
    // hashP(salt||w) % 13 == 0 (≈7.7% of occurrences, position-independent
    // → a pure word function, reproducible across reruns and replicable in
    // the oracle; both engines rewrite + count from the same hash). Pure
    // per-row array expressions — zero shuffle, whole-stage codegen, scales
    // with the scan. Result carries the rewritten text, the mask count, and
    // the token count (mask_frac is derivable; counts keep the hash exact).
    Q("q152_token_mask", {
      val masked = Curation.maskTokensSql("text", "q152", 13)
      val nMask = Curation.maskedTokenCountSql("text", "q152", 13)
      s"""SELECT doc_id,
         |  $masked AS masked,
         |  CAST($nMask AS INT) AS n_masked,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          Curation.maskTokens(col("text"), "q152", 13).as("masked"),
          Curation.maskedTokenCount(col("text"), "q152", 13).as("n_masked"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- PII pseudonymization: dense surrogate vault ----------------------
    // Curation.denseSurrogates assigns every distinct user a surrogate
    // 0..n-1 in salted-hash order (order-leak-free, run/engine-stable) with
    // NO global window: shard-by-hash rank + cumulated shard offsets — the
    // distributed dense-ID assignment a tokenization vault needs at 100 TB.
    // The declared result is the vault itself; CurationSpec pins denseness
    // (exact 0..n-1 bijection) and the applyPseudonyms round trip.
    Q("q163_pseudonymize", {
      val v = Curation.denseSurrogatesSql("events", "user_id", "s163", 64)
      s"""SELECT user_id, pseud FROM ($v) t ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      Curation.denseSurrogates(Tables.load(s, dir, "events"),
          "user_id", "s163", 64)
        .orderBy("user_id")
    },

    // ---- release gate: per-source ship/no-ship verdict --------------------
    // The audit a dataset release runs LAST, composed from individually
    // proven operators into one thresholded verdict (the q191 in-query
    // verdict discipline): duplicate burden (md5 window — q30's rule),
    // quality-gate failure among survivors (q201's gate), PII exposure
    // before and RESIDUE after redaction (q55's patterns + scrub; PII is
    // injected into every 5th doc so the gate has something to catch),
    // and language concentration (q172's top-lang rule). ONE corpus scan
    // with per-row flags + one per-source agg + one |sources×langs| lang
    // agg — the q205 two-shuffle funnel shape with a verdict on top. All
    // ratios are exact integer permille (floor division), so the verdict
    // string itself is oracle-hashed: a broken scrub or a drifted
    // threshold breaks the face, not just a number.
    Q("q206_release_gate", {
      s"""WITH rg_i AS (SELECT doc_id, source, lang, n_chars, text,
         |    CASE WHEN doc_id % 5 = 0 THEN $injectSql ELSE text END AS t
         |  FROM documents),
         |rg_r AS (SELECT *, CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
         |    THEN 1 ELSE 0 END AS surv FROM rg_i),
         |rg_f AS (SELECT source, surv,
         |    CASE WHEN surv = 1 AND n_chars >= 100
         |      AND len(regexp_extract_all(lower(text), '[a-z]+')) >= 20
         |      THEN 1 ELSE 0 END AS gate,
         |    CASE WHEN len(regexp_extract_all(t, '${Curation.EmailPattern}'))
         |        + len(regexp_extract_all(t, '${Curation.PhonePattern}'))
         |        + len(regexp_extract_all(t, '${Curation.Ipv4Pattern}')) > 0
         |      THEN 1 ELSE 0 END AS pii,
         |    len(regexp_extract_all(${Curation.redactPiiSql("t")}, '${Curation.EmailPattern}'))
         |      + len(regexp_extract_all(${Curation.redactPiiSql("t")}, '${Curation.PhonePattern}'))
         |      + len(regexp_extract_all(${Curation.redactPiiSql("t")}, '${Curation.Ipv4Pattern}')) AS res
         |  FROM rg_r),
         |rg_a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw,
         |    CAST(SUM(surv) AS BIGINT) AS n_dedup, CAST(SUM(gate) AS BIGINT) AS n_gate,
         |    CAST(SUM(pii) AS BIGINT) AS pii_docs, CAST(SUM(res) AS BIGINT) AS pii_residue
         |  FROM rg_f GROUP BY source),
         |rg_l AS (SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang),
         |rg_t AS (SELECT source, lang AS top_lang, cnt FROM (
         |    SELECT source, lang, cnt, row_number() OVER (PARTITION BY source
         |      ORDER BY cnt DESC, lang) AS rn FROM rg_l) x WHERE rn = 1),
         |rg_v AS (SELECT a.source, a.n_raw,
         |    (1000 * (a.n_raw - a.n_dedup)) // a.n_raw AS dup_permille,
         |    CASE WHEN a.n_dedup = 0 THEN 0
         |      ELSE (1000 * (a.n_dedup - a.n_gate)) // a.n_dedup END AS gatefail_permille,
         |    a.pii_docs, a.pii_residue, t.top_lang,
         |    (1000 * t.cnt) // a.n_raw AS top_share_permille
         |  FROM rg_a a JOIN rg_t t ON a.source = t.source)
         |SELECT source, n_raw, dup_permille, gatefail_permille, pii_docs,
         |  pii_residue, top_lang, top_share_permille,
         |  CASE WHEN dup_permille > 100 THEN 'BLOCK:dup'
         |       WHEN gatefail_permille > 120 THEN 'BLOCK:quality'
         |       WHEN pii_residue > 0 THEN 'BLOCK:pii'
         |       ELSE 'PASS' END AS verdict
         |FROM rg_v ORDER BY source""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val t = when(pmod(col("doc_id"), lit(5)) === 0, injectCol)
        .otherwise(col("text"))
      val red = Curation.redactPii(col("__t"))
      val w = Window.partitionBy(md5(col("text")))
      val flags = docs.withColumn("__t", t)
        .withColumn("__surv",
          (col("doc_id") === min(col("doc_id")).over(w)).cast("int"))
        .select(col("source"), col("__surv"),
          (col("__surv") === 1 && col("n_chars") >= 100 &&
            size(TextAnalysis.words(col("text"))) >= 20).cast("int").as("__gate"),
          (Curation.piiCount(col("__t"), Curation.EmailPattern) +
            Curation.piiCount(col("__t"), Curation.PhonePattern) +
            Curation.piiCount(col("__t"), Curation.Ipv4Pattern) > 0)
            .cast("int").as("__pii"),
          (Curation.piiCount(red, Curation.EmailPattern) +
            Curation.piiCount(red, Curation.PhonePattern) +
            Curation.piiCount(red, Curation.Ipv4Pattern)).as("__res"))
      val agg = flags.groupBy("source").agg(
        count(lit(1)).as("n_raw"),
        sum(col("__surv")).cast("long").as("n_dedup"),
        sum(col("__gate")).cast("long").as("n_gate"),
        sum(col("__pii")).cast("long").as("pii_docs"),
        sum(col("__res")).cast("long").as("pii_residue"))
      val top = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("source").orderBy(col("cnt").desc, col("lang"))))
        .filter(col("__rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("cnt"))
      agg.join(broadcast(top), Seq("source"))
        .select(col("source"), col("n_raw"),
          expr("(1000 * (n_raw - n_dedup)) div n_raw").as("dup_permille"),
          when(col("n_dedup") === 0, lit(0L))
            .otherwise(expr("(1000 * (n_dedup - n_gate)) div n_dedup"))
            .as("gatefail_permille"),
          col("pii_docs"), col("pii_residue"), col("top_lang"),
          expr("(1000 * cnt) div n_raw").as("top_share_permille"))
        .withColumn("verdict",
          when(col("dup_permille") > 100, lit("BLOCK:dup"))
            .when(col("gatefail_permille") > 120, lit("BLOCK:quality"))
            .when(col("pii_residue") > 0, lit("BLOCK:pii"))
            .otherwise(lit("PASS")))
        .orderBy("source")
    }
  )
}
