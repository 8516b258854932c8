package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Fns, VectorExprs}

/** Similarity search over embedding columns (north-star pack).
  *
  * Scale design:
  *  - `bruteForceTopK`: broadcast the (tiny) query side, scan the corpus
  *    once, rank with a top-k sort (Spark's `TakeOrderedAndProject` — no full
  *    sort, no extra shuffle). The exact baseline.
  *  - sign-LSH (`withSignBuckets`): H random hyperplanes → H sign bits → one
  *    int bucket. Candidates = same bucket → candidate set shrinks ~2^H ×.
  *    Hyperplane weights are deterministic pseudo-random ints derived from
  *    md5 at PLAN BUILD time (driver-side, [[Fns.hash60Local]]) and shipped
  *    as literal arrays — zero per-row hashing cost, and the oracle SQL can
  *    reproduce the identical weights.
  *  - block-join near-dup (`blockedPairsCosine`): IVF-style coarse blocking
  *    on a partition column, intra-block pairwise cosine. The shuffle is
  *    keyed by block; n² work is bounded per block instead of global.
  *
  * All vector math is left-fold double arithmetic (Fns.dot/cosine) so DuckDB
  * oracle results are bit-identical.
  */
object Similarity {

  /** Hyperplane weight matrix H×dim: w(h,d) = hash60("hp{h}_{d}") % 2001 - 1000,
    * an integer in [-1000, 1000]. Deterministic, reproducible in SQL. */
  def hyperplaneWeights(h: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(h, dim)((hi, di) => Fns.hash60Local(s"hp${hi + 1}_${di + 1}") % 2001 - 1000)
  def hyperplaneWeightSql(hi: Int, di: Int): String =
    s"(${Fns.hash60Sql(s"'hp${hi + 1}_${di + 1}'")} % 2001 - 1000)"

  /** Sign-LSH bucket id from H hyperplanes (bit h set iff dot(w_h, v) > 0).
    * Dot products run through the fused codegen expression
    * ([[VectorExprs.dotF]]) — same left-fold order as the HOF path. */
  def signBucket(vec: Column, weights: Array[Array[Long]]): Column = {
    val bits = weights.zipWithIndex.map { case (w, h) =>
      val wCol = array(w.map(x => lit(x.toDouble)): _*)
      when(VectorExprs.dotF(wCol, vec) > 0, lit(1L << h)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Oracle-side bucket expression for the same weights (weights inlined as a
    * list literal — identical values, identical fold order). */
  def signBucketSql(vecE: String, weights: Array[Array[Long]]): String =
    weights.zipWithIndex.map { case (w, h) =>
      val wList = w.map(x => s"${x.toDouble}").mkString("[", ",", "]")
      s"(CASE WHEN ${Fns.dotSql(wList, Fns.vecDSql(vecE))} > 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Johnson–Lindenstrauss random projection D→d: d deterministic
    * ±-integer hyperplanes ([[hyperplaneWeights]] — md5-derived at plan
    * build, shipped as literals, zero per-row weight hashing), each output
    * component one fused dot ([[VectorExprs.dotF]]). Pairwise angles/
    * distances are approximately preserved (JL lemma), so the projected
    * sketch is the cheap pre-filter for ANN: score d-dim sketches in the
    * scan, exact-re-rank the shortlist from the float column — the same
    * shortlist+re-rank pattern as [[ivfSearchQuantized]], at dim/d the
    * scan bytes. [[signBucket]] is this projection's 1-bit-per-plane
    * extreme; this keeps the magnitudes. */
  def randomProjection(vec: Column, weights: Array[Array[Long]]): Column =
    array(weights.map { w =>
      VectorExprs.dotF(array(w.map(x => lit(x.toDouble)): _*), vec)
    }: _*)

  /** Oracle face of [[randomProjection]] (identical literal weights,
    * identical left-fold dot order). */
  def randomProjectionSql(vecE: String, weights: Array[Array[Long]]): String =
    weights.map { w =>
      val wList = w.map(x => s"${x.toDouble}").mkString("[", ",", "]")
      Fns.dotSql(wList, Fns.vecDSql(vecE))
    }.mkString("[", ", ", "]")

  /** Query-adaptive multi-probe sign-LSH search (Lv et al., VLDB 2007): a
    * true neighbor that misses the query's bucket sits across the
    * hyperplanes the QUERY is closest to — so the probing sequence ranks
    * every flip mask by the summed |margin| of its flipped planes (the
    * paper's perturbation-set score with |dot| as the boundary distance)
    * and probes the `t` cheapest buckets (mask 0 = the base bucket always
    * ranks first). Exact-cosine top-k within the candidates. This is the
    * query-adaptive probing the paper is about — flat Hamming-radius
    * probing is the degenerate equal-margin case.
    *
    * Scale shape: mask ranking is 2^h rows derived from ONE query row
    * (driver-trivial, broadcast); the candidate fetch is an equi-join on
    * the bucket id, so a corpus pre-bucketed on `signBucket` (or written
    * with `partitionBy(bucket)`, the [[ivfWriteIndex]] pattern) serves each
    * probe from its own partition — no scan of unprobed buckets, candidates
    * bounded by the probed buckets' sizes. Buckets partition the corpus, so
    * probes never duplicate a candidate. */
  def multiProbeLsh(corpus: DataFrame, query: DataFrame, vecCol: String,
                    idCol: String, k: Int, weights: Array[Array[Long]],
                    t: Int): DataFrame = {
    val h = weights.length
    require(t >= 1 && t <= (1 << h), s"t must be in [1, ${1 << h}]")
    val b = corpus.withColumn("__bkt", signBucket(col(vecCol), weights))
    val dots = weights.zipWithIndex.map { case (w, i) =>
      VectorExprs.dotF(array(w.map(x => lit(x.toDouble)): _*), col(vecCol))
        .as(s"__d$i")
    }
    val qd = query.select(signBucket(col(vecCol), weights).as("__qb")
      +: col(vecCol).as("__qv") +: dots: _*)
    val masks = array((0 until (1 << h)).map(m => lit(m.toLong)): _*)
    // Perturbation cost: Σ over set bits of |dot_i|, summed in fixed index
    // order (i = 0..h-1) so both engines' IEEE chains agree bit-for-bit.
    val cost = (0 until h).map(i =>
        when(col("__m").bitwiseAND(lit(1L << i)) > 0, abs(col(s"__d$i")))
          .otherwise(lit(0.0)))
      .reduce(_ + _)
    val wRank = Window.orderBy(col("__cost").asc, col("__m").asc)
    val expCols = Seq(col("__qb"), col("__qv")) ++
      (0 until h).map(i => col(s"__d$i")) :+ explode(masks).as("__m")
    val probes = broadcast(
      qd.select(expCols: _*)
        .withColumn("__cost", cost)
        .withColumn("__rn", row_number().over(wRank))
        .filter(col("__rn") <= t)
        .select(col("__qb").bitwiseXOR(col("__m")).as("__pb"), col("__qv")))
    b.join(probes, col("__bkt") === col("__pb"))
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Oracle faces of [[multiProbeLsh]]: per-hyperplane dot exprs over a
    * vector expr, and the fixed-order perturbation-cost CASE chain over
    * the d0..d(h-1) aliases those dots are SELECTed as. */
  def hyperplaneDotsSql(vecE: String, weights: Array[Array[Long]]): String =
    weights.zipWithIndex.map { case (w, i) =>
      val wList = w.map(x => s"${x.toDouble}").mkString("[", ",", "]")
      s"${Fns.dotSql(wList, Fns.vecDSql(vecE))} AS d$i"
    }.mkString(",\n    ")

  def multiProbeCostSql(h: Int): String =
    (0 until h).map(i =>
      s"CASE WHEN (m & ${1L << i}) > 0 THEN abs(d$i) ELSE 0.0 END")
      .mkString("(", "\n      + ", ")")

  /** Exact top-k by cosine against one broadcast query vector. */
  def bruteForceTopK(corpus: DataFrame, query: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    corpus.crossJoin(q)
      .select(col(idCol),
        VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch KNN join: top-k per query vector over the corpus. Queries
    * broadcast (small side); scoring is one corpus scan; the ranking is a
    * bounded top-k aggregate ([[graft.functions.TopKByScore]]) rather than a
    * `row_number` window: the window shape shuffles ALL |corpus|·|queries|
    * scored rows and concentrates each query's |corpus| rows on one task,
    * while the aggregate partial-reduces to ≤k entries per query per map
    * task before the shuffle (heap-merge on the reduce side). Same ordering
    * contract (cos desc, id asc), cross-product-sized shuffle → k-sized.
    * For huge query sets, pre-bucket both sides with [[signBucket]] first
    * and run this per bucket. */
  def knnJoin(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, qidCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).as("qid"), col(vecCol).as("__qv")))
    rankTopK(corpus.crossJoin(q)
      .select(col("qid"), col(idCol),
        VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos")), idCol, k)
  }

  /** Batch KNN for HUGE query sets (too big to broadcast): both sides get a
    * sign-LSH bucket, the join is keyed by bucket (ONE bucket shuffle — no
    * per-query replication of the corpus), then exact top-k within the
    * shared bucket. Approximate: recall is bounded by bucket collision, the
    * same trade [[signBucket]] makes for single-query ANN; use more bands
    * (union several calls with different weight seeds) to raise recall. */
  def knnJoinBucketed(corpus: DataFrame, queries: DataFrame,
                      vecCol: String, idCol: String, qidCol: String, k: Int,
                      weights: Array[Array[Long]]): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"),
      signBucket(col(vecCol), weights).as("__bkt"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("__qv"),
      signBucket(col(vecCol), weights).as("__bkt"))
    rankTopK(c.join(q, "__bkt")
      .select(col("qid"), col(idCol),
        VectorExprs.cosineF(col("__cv"), col("__qv")).as("cos")), idCol, k)
  }

  /** Shared ranking tail: bounded-heap top-k per query (map-side partial),
    * exploded to (qid, id, cos, rn) rows — `ORDER BY cos DESC, id` rank. */
  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKByScore(col("cos"), col(idCol), k).as("__tk"))
      .select(col("qid"), posexplode(col("__tk")))
      .select(col("qid"), col("col.id").as(idCol), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rn"))

  // ---- IVF (inverted-file) ANN --------------------------------------------

  /** IVF index build: assign every vector to its nearest pivot (argmax
    * cosine; ties → smallest pivot id). Pivots are a small fixed set (e.g.
    * the C lowest-id vectors, or sampled) — broadcast; the assignment is ONE
    * corpus scan computing C fused cosines per row plus a per-row argmax
    * (window over the row's C candidates). At scale, write the result
    * partitioned by `centroid_id` so searches prune to probed partitions:
    * `ivfAssign(...).write.partitionBy("centroid_id")`.
    *
    * Pivot-based assignment (no Lloyd iterations) keeps the index
    * deterministic and oracle-exact; production can refine pivots offline
    * and re-assign with the same operator. */
  def ivfAssign(corpus: DataFrame, pivots: DataFrame,
                vecCol: String, idCol: String, pivotIdCol: String): DataFrame = {
    // All C pivots packed into ONE broadcast row; the per-row argmax
    // (max cosine, ties → smallest pivot id, NaN ranks greatest — same
    // contract as `ORDER BY cos DESC, cid ASC` + rn=1) runs map-side in a
    // single fused codegen kernel ([[VectorExprs.nearestPivotF]]): C
    // cosines + running argmax, zero allocation. The old window shape
    // materialized and SHUFFLED |corpus|·C scored rows just to keep 1-of-C;
    // this keeps the corpus pipeline shuffle-free end to end.
    val packed = broadcast(
      pivots.select(struct(col(pivotIdCol).as("cid"), col(vecCol).as("cv")).as("__p"))
        .agg(sort_array(collect_list(col("__p"))).as("__pivs")))
    corpus.crossJoin(packed)
      .select(col(idCol), col(vecCol),
        VectorExprs.nearestPivotF(col(vecCol), col("__pivs")).as("centroid_id"))
  }

  /** [[ivfAssign]] keeping EVERY corpus column — metadata (labels, langs,
    * quality scores) travels with the list assignment, which is what a
    * filtered search needs resident in the index ([[ivfSearchFiltered]]).
    * Same fused map-side argmax, zero corpus shuffle. */
  def ivfAssignAll(corpus: DataFrame, pivots: DataFrame,
                   vecCol: String, pivotIdCol: String): DataFrame = {
    val packed = broadcast(
      pivots.select(struct(col(pivotIdCol).as("cid"), col(vecCol).as("cv")).as("__p"))
        .agg(sort_array(collect_list(col("__p"))).as("__pivs")))
    val keep = corpus.columns.map(col)
    corpus.crossJoin(packed)
      .select(keep :+ VectorExprs.nearestPivotF(col(vecCol), col("__pivs")).as("centroid_id"): _*)
  }

  /** One-or-more Lloyd refinement passes over the pivot set: assign every
    * corpus vector to its nearest pivot (the same map-side fused argmax as
    * [[ivfAssign]] — zero corpus shuffle), then recenter each inverted list
    * on its elementwise mean via [[graft.functions.VectorMean]] (a
    * TypedImperativeAggregate: partial dim-double buffers map-side, the
    * exchange carries one buffer per list per task, never the vectors).
    * Centroid ids keep the id of the pivot whose list they recenter; lists
    * that end up empty drop out. The deterministic pivot path stays the
    * default/oracle ([[ivfAssign]] docs) — this is the offline refinement
    * that doc promises, improving list balance/recall on clustered data
    * (SimilaritySpec pins the recall improvement on a crafted fixture). */
  def ivfRefinePivots(corpus: DataFrame, pivots: DataFrame,
                      vecCol: String, idCol: String, pivotIdCol: String,
                      iters: Int = 1): DataFrame = {
    var cur = pivots.select(col(pivotIdCol), col(vecCol))
    for (_ <- 1 to iters) {
      cur = ivfAssign(corpus, cur, vecCol, idCol, pivotIdCol)
        .groupBy(col("centroid_id"))
        .agg(graft.functions.VectorMeanAgg.vectorMean(col(vecCol)).as(vecCol))
        .select(col("centroid_id").as(pivotIdCol), col(vecCol))
    }
    cur
  }

  /** Balance-aware IVF re-seeding — the automated answer to a RED
    * [[graft.operators.TableStats]]/q103 balance report. Lloyd refinement
    * ([[ivfRefinePivots]]) minimizes variance, NOT balance: a tight
    * half-mass cluster (post-drift ingest) keeps exactly one centroid and
    * its cell's ~C/2 load forever. This loop does what an index operator
    * actually does: per iteration, SPLIT the heaviest cell (two new pivots
    * at the cell's residual quartiles — members ranked by cosine to a
    * fixed reference, seeds at ranks ⌈n/4⌉ and ⌈3n/4⌉, both inside a dense
    * cluster and spread along its residual variation) and RETIRE the
    * lightest OTHER cell's pivot — lightest-other, not lightest, so a
    * fully balanced index (heaviest == lightest) cannot grow C; EMPTY
    * cells count at load 0 and retire first (never appearing in the
    * assignment must not make a dead pivot immortal). C stays constant;
    * retired members reassign on the next pass. A 1-member-or-empty
    * heaviest cell cannot split — the loop stops early (the index is as
    * balanced as splitting can make it). Everything is deterministic —
    * rank ties break by id, no float accumulation anywhere — so the
    * oracle replays it as unrolled CTEs.
    *
    * Returns (assignment, pivots) for iterations 0..iters; assignment
    * carries (idCol, centroid_id, vecCol).
    *
    * Scale: each iteration is one map-side fused reassignment scan
    * ([[ivfAssign]] — zero corpus shuffle) plus C-row driver metadata
    * (heavy/light cells, two seed vectors — the q179 bounded-collect
    * discipline). Seed selection is a DISTRIBUTED exact order statistic —
    * the heavy cell is by definition the drifted one (it can hold half the
    * corpus), so no single task may ever sort its full membership: members
    * leave the scan as vector-free (id, cos) rows, range-partition on
    * (cos desc, id), rank WITHIN each range shard (keyed window), and the
    * shard-count prefix sums (≤ shards rows, driver metadata) turn local
    * ranks into exact global ranks. The two quartile rows filter out and
    * re-join the assignment by id (2-row broadcast) to fetch their
    * vectors. No unpartitioned window anywhere; every exchange carries
    * ids/scalars, never vectors. Candidates whose id collides with a
    * surviving pivot's cid are excluded before ranking, so a seed can
    * never duplicate a live centroid id. */
  /** Exact global ranks 1..N over `scored` (idCol, __cos) under
    * (__cos DESC, idCol ASC) with NO unpartitioned window — the
    * distributed order-statistic kernel behind [[ivfSplitRebalance]]'s
    * seed selection. Range-shard on the rank order (each shard sorts only
    * its slice), rank WITHIN each shard (keyed window), then add the
    * exclusive shard-count prefix sums — ≤ `shards` rows of driver
    * metadata, folded back in as a literal map — so local ranks become
    * exact global ranks. Deterministic for unique (cos, id) keys
    * regardless of where the range sampler places shard boundaries.
    * Returns (ranked frame with __rk, total row count); the frame is
    * localCheckpointed so the shard ids the counts were collected from are
    * the shard ids the rank pass sees. */
  private[graft] def rangedGlobalRank(scored: DataFrame, idCol: String,
                                      shards: Int): (DataFrame, Long) = {
    val cand = scored
      .repartitionByRange(shards, col("__cos").desc, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val cnts = cand.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offs: Map[Int, Long] =
      cnts.zip(cnts.scanLeft(0L)(_ + _._2)).map {
        case ((pid, _), off) => pid -> off
      }.toMap
    val ranked = cand.withColumn("__lrk", row_number().over(
        Window.partitionBy(col("__pid"))
          .orderBy(col("__cos").desc, col(idCol))))
      .withColumn("__rk",
        col("__lrk").cast("long") + element_at(typedLit(offs), col("__pid")))
    (ranked, cnts.map(_._2).sum)
  }

  def ivfSplitRebalance(corpus: DataFrame, pivots: DataFrame, vecCol: String,
                        idCol: String, pivotIdCol: String, ref: DataFrame,
                        iters: Int): Seq[(DataFrame, DataFrame)] = {
    val refB = broadcast(ref.select(col(vecCol).as("__rv")))
    var piv = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("cv"))
      .localCheckpoint()
    // ivfAssign reads the pivot frame through (pivotIdCol, vecCol); the
    // loop state uses (cid, cv) internally — re-alias per pass
    def assignCorpus(p: DataFrame): DataFrame =
      ivfAssign(corpus, p.select(col("cid").as(pivotIdCol), col("cv").as(vecCol)),
        vecCol, idCol, pivotIdCol)
    var asg = assignCorpus(piv).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer((asg, piv))
    var stopped = false
    for (_ <- 1 to iters if !stopped) {
      // ONE driver collect of the C-row occupancy (per-pivot, EMPTY cells
      // included at load 0 — an empty cell is the first retirement
      // candidate, and never appearing in the assignment must not make it
      // immortal); heavy comes from the same collect
      val occAll = piv.select(col("cid"))
        .join(asg.groupBy(col("centroid_id").as("cid")).agg(count(lit(1)).as("n")),
          Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n"), lit(0L)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val heavyCid = occAll.maxBy { case (cid, n) => (n, -cid) }._1
      val heavyN = occAll.find(_._1 == heavyCid).get._2
      if (occAll.length < 2 || heavyN < 2) {
        // C=1 cannot retire-and-split while keeping C constant, and a
        // 1-member (or empty) heaviest cell cannot split — the index is
        // as balanced as this loop can make it
        stopped = true
      } else {
        // retire the lightest OTHER cell — when the index is already
        // balanced the heaviest may also be the lightest, and removing it
        // while seeding two would grow C (the contract is C CONSTANT)
        val lightCid = occAll.filter(_._1 != heavyCid)
          .minBy { case (cid, n) => (n, cid) }._1
        // a seed's cid is its member id — a member whose id equals a
        // SURVIVING pivot's cid (possible under duplicate vectors) would
        // mint a duplicate centroid id; exclude those ids up front
        val survivors = occAll.map(_._1)
          .filter(c => c != heavyCid && c != lightCid).toSeq
        // distributed exact quartile ranks: vector-free (id, cos) rows
        // through [[rangedGlobalRank]] — no unpartitioned window
        val scored = asg.filter(col("centroid_id") === heavyCid)
          .filter(if (survivors.isEmpty) lit(true)
                  else !col(idCol).cast("long").isin(survivors: _*))
          .crossJoin(refB)
          .select(col(idCol),
            VectorExprs.cosineF(col(vecCol), col("__rv")).as("__cos"))
        val (ranked, candN) = rangedGlobalRank(scored, idCol, shards = 32)
        if (candN < 2) {
          stopped = true
        } else {
          val k1 = math.max(candN / 4, 1L)
          val k2 = math.max(3L * candN / 4, 2L)
          val seedIds = ranked
            .filter(col("__rk") === k1 || col("__rk") === k2)
            .select(col(idCol))
          val seeds = asg.join(broadcast(seedIds), Seq(idCol))
            .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
          piv = piv.filter(col("cid") =!= heavyCid && col("cid") =!= lightCid)
            .unionByName(seeds)
            .localCheckpoint()
          asg = assignCorpus(piv).localCheckpoint()
          out += ((asg, piv))
        }
      }
    }
    out.toSeq
  }

  /** IVF search: rank pivots for the query, probe the best `nprobe`
    * inverted lists, exact top-k within the candidates. Scans
    * |corpus|·nprobe/C of the data instead of all of it — the IVF scale
    * trade: recall bounded by probe coverage, cost by nprobe. */
  def ivfSearch(index: DataFrame, pivots: DataFrame, query: DataFrame,
                vecCol: String, idCol: String, pivotIdCol: String,
                k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    val probes = broadcast(
      pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv")).crossJoin(q)
        .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
        .orderBy(col("__pcos").desc, col("cid").asc)
        .limit(nprobe)
        .select("cid"))
    index.join(probes, index("centroid_id") === probes("cid"))
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Soft IVF assignment: each vector lands in its `r` nearest inverted
    * lists (same total order as [[ivfAssign]]: cosine DESC, pivot id ASC).
    * The multi-assignment blocking that makes an approximate KNN-graph
    * build possible without all-pairs: two vectors whose PRIMARY lists
    * differ still co-occur in a bucket when one's secondary list is the
    * other's primary. Runs as ONE fused codegen kernel per row
    * ([[VectorExprs.nearestPivotsF]]: C cosines + an r-slot insertion) +
    * a Generate — map-side, zero corpus shuffle, exactly like the hard
    * assignment. (The previous shape shuffled |corpus|·C scored rows
    * through a rank window; the kernel removed q143's dominant exchange.) */
  def ivfSoftAssign(corpus: DataFrame, pivots: DataFrame, vecCol: String,
                    idCol: String, pivotIdCol: String, r: Int): DataFrame = {
    val packed = broadcast(
      pivots.select(struct(col(pivotIdCol).as("cid"), col(vecCol).as("cv")).as("__p"))
        .agg(sort_array(collect_list(col("__p"))).as("__pivs")))
    corpus.crossJoin(packed)
      .select(col(idCol), col(vecCol),
        explode(VectorExprs.nearestPivotsF(col(vecCol), col("__pivs"), r))
          .as("centroid_id"))
  }

  /** M-nearest-neighbor graph over a SOFT IVF assignment — the NSW/
    * HNSW-lite navigation layer (Malkov & Yashunin's base-layer idea, built
    * by IVF multi-assignment blocking): for every vector, its `m` nearest
    * co-bucketed neighbors by cosine (ties → smaller id). Because buckets
    * come from [[ivfSoftAssign]] (r ≥ 2), edges CROSS primary-list
    * boundaries — which is the whole point: a search seeded from one list
    * can hop to near neighbors whose primary list wasn't probed. Build cost
    * is Σ|bucket|² pairwise cosines (≈ r²× the [[semDedup]] shape), capped
    * by the clustering, never all-pairs; one equi-shuffle on the bucket id,
    * a pair-distinct (a pair can co-occur in up to r shared buckets), and a
    * per-src rank-limit window. Persist next to the index files and reuse
    * across queries; rebuild only on re-clustering. */
  def ivfNeighborGraph(softIndex: DataFrame, vecCol: String, idCol: String,
                       m: Int): DataFrame = {
    val a = softIndex.select(col("centroid_id").as("__c"), col(idCol).as("src"),
      col(vecCol).as("__sv"))
    val b = softIndex.select(col("centroid_id").as("__c2"), col(idCol).as("dst"),
      col(vecCol).as("__dv"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("__cos").desc, col("dst").asc)
    // Cosine BEFORE the pair-distinct: the dedup then shuffles 24-byte
    // (src, dst, cos) triples instead of two vectors per pair — at dim 64
    // that's ~20× less exchange. Recomputing a pair's cosine in each
    // co-bucket (≤r² times) is cheap; both engines' cosines are bit-exact,
    // so the distinct keys agree.
    a.join(b, col("__c") === col("__c2") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        VectorExprs.cosineF(col("__sv"), col("__dv")).as("__cos"))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select("src", "dst")
  }

  /** Graph-expanded IVF search: seed with the `nprobe` best inverted lists
    * (the [[ivfSearch]] probe rule), expand ONE hop along the
    * [[ivfNeighborGraph]] edges, exact-cosine top-k over the union. The hop
    * recovers true neighbors that live just OUTSIDE the probed lists but are
    * graph-adjacent to a seed — the coarse-quantization miss an HNSW layer
    * exists to fix — so recall at nprobe=1 approaches plain-IVF recall at
    * larger nprobe while scanning roughly 1/nprobe of the data (candidates =
    * probed lists + ≤m·|seed| hop rows). All relational: two broadcast
    * probes, equi-joins, one distinct — no iterative traversal, which is the
    * right depth/cost point for a ONE-shuffle distributed search (deeper
    * walks serialize into per-hop shuffles for rapidly diminishing recall). */
  def ivfGraphSearch(index: DataFrame, pivots: DataFrame, graph: DataFrame,
                     query: DataFrame, vecCol: String, idCol: String,
                     pivotIdCol: String, k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    val probes = broadcast(
      pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv")).crossJoin(q)
        .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
        .orderBy(col("__pcos").desc, col("cid").asc)
        .limit(nprobe)
        .select("cid"))
    val seed = index.join(probes, index("centroid_id") === probes("cid"))
      .select(col(idCol), col(vecCol))
    val hopIds = graph.join(seed.select(col(idCol).as("src")), Seq("src"))
      .select(col("dst").as(idCol)).distinct()
    val hop = index.join(hopIds, Seq(idCol)).select(col(idCol), col(vecCol))
    seed.unionByName(hop).dropDuplicates(idCol)
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF index partitioned by inverted list, so probed searches
    * prune at the FILE level — a 4096-list index at 100 TB reads
    * nprobe/4096 of its files, decided by the driver before any task
    * launches. */
  def ivfWriteIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  def ivfOpenIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.FooterSchema.read(spark, path)

  /** Patch a persisted [[ivfWriteIndex]] layout after an assignment change
    * (re-pivot, delta ingest): rewrite ONLY the lists whose membership
    * changed and delete retired lists — never touch the rest. This is the
    * pay-for-reindex contract q193's n_moved reports, made physical: at
    * 100 TB a rebalance that re-wrote every list would be a full-index
    * write for a partial membership change.
    *
    *  - changed rows = a FULL OUTER join of `oldAsg` and `newAsg` on
    *    `idCol`: moved ids (centroid differs), INSERTED ids (new side
    *    only — their target lists must be rewritten to include them) and
    *    DELETED ids (old side only — their former lists must be rewritten
    *    to drop the stale rows), so delta ingest and takedown deletes are
    *    covered, not just same-id-set re-pivots;
    *  - lists to REWRITE = centroids of changed rows (old ∪ new) that
    *    still exist in the new assignment — their full new contents land
    *    via DYNAMIC partition overwrite (only partitions present in the
    *    written data are replaced; untouched list files are not opened);
    *  - lists to DELETE = centroids with rows in `oldAsg` but none in
    *    `newAsg` (a retired pivot's partition would otherwise survive as
    *    a stale orphan — dynamic overwrite never visits it).
    *
    * All three centroid sets come off ONE distinct (old,new) pair
    * aggregate — a single corpus pass whose collect is bounded by the
    * distinct pair count (≤ C + moved pairs, the q179 collect
    * discipline). Returns (listsRewritten, listsDeleted). */
  def ivfPatchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    oldAsg: DataFrame, newAsg: DataFrame,
                    idCol: String): (Long, Long) = {
    val pairs = oldAsg.select(col(idCol), col("centroid_id").as("__c0"))
      .join(newAsg.select(col(idCol), col("centroid_id").as("__c1")),
        Seq(idCol), "full_outer")
      .select(col("__c0"), col("__c1")).distinct()
      .collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }
    val oldCids = pairs.flatMap(_._1).toSet
    val newCids = pairs.flatMap(_._2).toSet
    // moved, inserted (None old side) and deleted (None new side) ids all
    // mark their non-null centroids for rewrite
    val movedCids = pairs.collect {
      case (c0, c1) if c0 != c1 => c0.toSeq ++ c1.toSeq
    }.flatten.toSet
    val rewrite = (movedCids & newCids).toSeq.sorted
    val retired = (oldCids -- newCids).toSeq.sorted
    if (rewrite.nonEmpty)
      newAsg.filter(col("centroid_id").isin(rewrite: _*))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id").parquet(path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    retired.foreach { c =>
      val p = new org.apache.hadoop.fs.Path(root, s"centroid_id=$c")
      if (fs.exists(p) && !fs.delete(p, true))
        throw new IllegalStateException(s"could not delete retired list $p")
    }
    (rewrite.length.toLong, retired.length.toLong)
  }

  /** Batch IVF search: MANY queries against one (persisted) index in ONE
    * plan — the production serving shape where [[ivfSearchPruned]]'s
    * driver-literal pruning can't apply (each query probes different
    * lists). Per-query probe ranking is a window over |Q|·C pivot scores —
    * pivot-bounded, nothing corpus-sized (the "no Window in KNN" rule
    * forbids windows over CORPUS-sized score sets, not this). Candidates
    * come from an EQUI-join of the index on `centroid_id` against the
    * Q·nprobe probe set — candidate volume is Σ_q probed-list sizes, never
    * |corpus|·|Q|. Query vectors rejoin by qid; the final ranking is the
    * bounded-heap top-k aggregate (k-sized exchanges).
    * Output: (qid, id, cos, rn).
    *
    * `hintBroadcast` (default true) pins the query/probe sides as
    * broadcasts — right for the serving shape this models, where a batch
    * is a bounded request (hundreds to low millions of rows). For BULK
    * query sets that outgrow broadcast (tens of millions), pass false so
    * the planner/AQE picks a centroid_id/qid shuffle join instead — a
    * pinned broadcast there means driver OOM, not a slow plan. */
  def ivfBatchSearch(index: DataFrame, pivots: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, pivotIdCol: String,
                     qidCol: String, k: Int, nprobe: Int,
                     hintBroadcast: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hinted(df: DataFrame) = if (hintBroadcast) broadcast(df) else df
    val q = hinted(queries.select(col(qidCol).as("qid"), col(vecCol).as("__qv")))
    val probeW = Window.partitionBy("qid").orderBy(col("__pcos").desc, col("cid").asc)
    val probes = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("qid"), col("cid"),
        VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
      .withColumn("__prn", row_number().over(probeW))
      .filter(col("__prn") <= nprobe)
      .select(col("qid"), col("cid").as("centroid_id"))
    val cands = index.join(hinted(probes), Seq("centroid_id"))
      .join(q, Seq("qid"))
      .select(col("qid"), col(idCol),
        VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
    rankTopK(cands, idCol, k)
  }

  /** STREAMING-safe batch ANN serving: [[ivfBatchSearch]] semantics with the
    * per-query probe ranking as a PER-ROW fused kernel
    * ([[VectorExprs.nearestPivotsF]] over a driver-literal packed pivot
    * array) instead of a window — streaming plans cannot carry window
    * functions, and the kernel is the better shape at any scale anyway: the
    * |Q|·C scored exchange disappears and probes are decided in the scan
    * stage. `queries` may be a streaming DataFrame; the plan is stateless up
    * to exactly ONE [[graft.functions.TopKByScore]] aggregate (update-mode
    * compatible — the heap buffer serializes into the state store, so a
    * query's top-k survives checkpointed restarts).
    *
    * The probed (qid, centroid_id, qv) rows carry a broadcast hint so the
    * static index side is never shuffled — per micro-batch the equi-join
    * touches Σ_q probed-list sizes, never |corpus|·|Q|. At 100 TB serving
    * scale the same plan reads an [[ivfWriteIndex]]-partitioned index; the
    * micro-batch's probe set prunes list files exactly as q179's literal
    * isin does (dynamic partition pruning from the broadcast side).
    *
    * Returns (qid, __tk) with the heap UNEXPLODED so callers can tag and
    * last-emission-reduce sink rows before ranking (see q202): exploding
    * after the reduction keeps every sink row one query's final state. */
  def ivfStreamSearch(index: DataFrame, pivots: DataFrame, queries: DataFrame,
                      vecCol: String, idCol: String, pivotIdCol: String,
                      qidCol: String, k: Int, nprobe: Int): DataFrame = {
    val pivRows = pivots
      .select(col(pivotIdCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").collect()
    require(pivRows.nonEmpty, "ivfStreamSearch requires a non-empty pivot set")
    val pivLit = array(pivRows.map { r =>
      struct(lit(r.getLong(0)).as("cid"), typedLit(r.getSeq[Float](1)).as("cv"))
    }: _*)
    val probed = broadcast(queries
      .select(col(qidCol).as("qid"), col(vecCol).as("__qv"),
        VectorExprs.nearestPivotsF(col(vecCol), pivLit, nprobe).as("__cids"))
      .select(col("qid"), col("__qv"), explode(col("__cids")).as("centroid_id")))
    index.join(probed, Seq("centroid_id"))
      .select(col("qid"),
        VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"), col(idCol))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKByScore(col("cos"), col(idCol), k).as("__tk"))
  }

  /** IVF search against a PARTITIONED index: the probe ranking runs on the
    * driver over the C pivot scores (tiny by construction), and the probed
    * list ids become a LITERAL isin filter — static partition pruning, no
    * join, no scan of unprobed lists. Same results as [[ivfSearch]]. */
  def ivfSearchPruned(index: DataFrame, pivots: DataFrame, query: DataFrame,
                      vecCol: String, idCol: String, pivotIdCol: String,
                      k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    val probeCids = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
      .orderBy(col("__pcos").desc, col("cid").asc)
      .limit(nprobe)
      .collect().map(_.get(0))
    index.filter(col("centroid_id").isin(probeCids: _*))
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Filtered ANN: top-k under a metadata predicate, with probe depth
    * ADAPTED to the filter's per-list survivor counts — the production
    * "vector search WHERE ..." shape. A fixed `nprobe` breaks under
    * filtering: a selective predicate can empty the best-ranked inverted
    * lists, silently starving the candidate pool. Here the probe set is
    * chosen by coverage: rank lists by query·pivot cosine (as [[ivfSearch]])
    * and keep taking lists while the running total of FILTERED survivors in
    * the already-taken lists is still below `minCandidates`.
    *
    * Scale shape: the survivor counts are one counts-only aggregation over
    * the filtered index (partial map-side, C rows out); the coverage prefix
    * sum is a window over those C rows (single-partition by construction —
    * C is the pivot count, driver-bounded); the candidate scan then touches
    * only the chosen lists WITH the predicate applied before any cosine —
    * on a [[ivfWriteIndex]]-partitioned index that is partition pruning +
    * a pushed parquet filter, so cost tracks the filtered probe volume,
    * not the corpus. Deterministic: the probe rule is a pure function of
    * bit-exact (pcos, cid) order and exact counts, so an SQL oracle
    * replicates it verbatim ([[ivfSearchFilteredCtesSql]]). */
  def ivfSearchFiltered(index: DataFrame, pivots: DataFrame, query: DataFrame,
                        pred: Column, vecCol: String, idCol: String,
                        pivotIdCol: String, k: Int, minCandidates: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    val survivors = index.filter(pred)
    val cnt = survivors.groupBy(col("centroid_id").as("cid"))
      .agg(count(lit(1)).as("__nf"))
    val ranked = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
      .join(cnt, Seq("cid"), "left")
      .select(col("cid"), col("__pcos"), coalesce(col("__nf"), lit(0L)).as("__nf"))
    // C-row global window: survivors in all better-ranked lists
    val w = Window.orderBy(col("__pcos").desc, col("cid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val probes = ranked
      .withColumn("__before", coalesce(sum(col("__nf")).over(w), lit(0L)))
      .filter(col("__before") < minCandidates)
      .select(col("cid").as("__probe_cid"))
    survivors
      .join(broadcast(probes), col("centroid_id") === col("__probe_cid"))
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Incremental IVF maintenance from a change feed ([[Sinks.diffTables]]
    * shape: `(key, change)` with added/removed/changed): drop the
    * removed+changed ids from the standing index, assign the added+changed
    * rows against the FIXED pivot set (the same map-side fused argmax as
    * [[ivfAssignAll]] — zero corpus shuffle), union. Per-row assignment is
    * independent given fixed pivots, so the result is EXACTLY what a full
    * rebuild over the new corpus produces (q161's oracle is that rebuild)
    * — at delta cost, not corpus cost: the anti/semi joins broadcast the
    * |delta|-sized key sets, the standing index streams through untouched.
    * Pivot drift under sustained churn is the one thing this cannot fix —
    * monitor list balance (q103's audit) and re-pivot offline when it
    * degrades. */
  def ivfApplyDelta(index: DataFrame, changes: DataFrame, newCorpus: DataFrame,
                    keyCol: String, pivots: DataFrame, vecCol: String,
                    pivotIdCol: String): DataFrame = {
    val dropKeys = changes.filter(col("change").isin("removed", "changed"))
      .select(col(keyCol))
    val addKeys = changes.filter(col("change").isin("added", "changed"))
      .select(col(keyCol))
    val kept = index.join(broadcast(dropKeys), Seq(keyCol), "left_anti")
    val assigned = ivfAssignAll(
      newCorpus.join(broadcast(addKeys), Seq(keyCol), "left_semi"),
      pivots, vecCol, pivotIdCol)
    kept.unionByName(assigned)
  }

  /** Intra-block pairwise cosine (IVF-style coarse blocking). */
  def blockedPairsCosine(df: DataFrame, vecCol: String, idCol: String,
                         blockCol: String): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorExprs.cosineF(col("va"), col("vb")).as("cos"))
  }

  // ---- semantic dedup (SemDeDup) -----------------------------------------

  /** Semantic-dedup verdicts (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the IVF assigner
    * ([[ivfAssign]] — map-side fused argmax, zero corpus shuffle), then
    * within every cluster compare each vector to its LOWER-ID cluster-mates
    * and report the max cosine; `is_dup` = that max clears `tau` — the
    * keep-lowest-id survivor rule the exact-dedup pack uses
    * ([[Dedup]]), applied to SEMANTIC duplicates.
    *
    * Scale: this is the SemDeDup design point — clustering first caps the
    * quadratic term at Σ|cluster|² instead of n² (C grows with the corpus so
    * |cluster| stays bounded); the pairwise stage shuffles on `centroid_id`
    * only (the [[blockedPairsCosine]] shape) and the per-id max-cos
    * aggregation partial-reduces to ONE double per id before its exchange.
    * The assignment lineage is read three times here — at scale, materialize
    * it once with [[ivfWriteIndex]] and feed the persisted index in as
    * `corpus` + precomputed `centroid_id`.
    *
    * Output: (idCol, cid, max_cos, is_dup); max_cos is NULL for each
    * cluster's lowest id (no lower-id mate — never a dup by construction). */
  def semDedupStats(corpus: DataFrame, pivots: DataFrame,
                    vecCol: String, idCol: String, pivotIdCol: String,
                    tau: Double): DataFrame = {
    val asg = ivfAssign(corpus, pivots, vecCol, idCol, pivotIdCol)
    val a = asg.select(col("centroid_id").as("__cid"), col(idCol).as("__ida"),
      col(vecCol).as("__va"))
    val b = asg.select(col("centroid_id").as("__cid"), col(idCol).as("__idb"),
      col(vecCol).as("__vb"))
    val maxCos = a.join(b, Seq("__cid")).filter(col("__ida") < col("__idb"))
      .select(col("__idb").as("__id"),
        VectorExprs.cosineF(col("__va"), col("__vb")).as("__cos"))
      .groupBy(col("__id")).agg(max(col("__cos")).as("max_cos"))
    asg.select(col(idCol), col("centroid_id").as("cid"))
      .join(maxCos, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("cid"), col("max_cos"),
        when(col("max_cos") >= tau, lit(1)).otherwise(lit(0)).as("is_dup"))
  }

  /** Apply face of [[semDedupStats]]: the surviving rows of `corpus` (docs
    * NOT semantically duplicated by a lower-id cluster-mate). Left-semi on
    * ids — the exchange carries ids only, runtime-filter friendly. */
  def semDedup(corpus: DataFrame, pivots: DataFrame,
               vecCol: String, idCol: String, pivotIdCol: String,
               tau: Double): DataFrame =
    corpus.join(
      semDedupStats(corpus, pivots, vecCol, idCol, pivotIdCol, tau)
        .filter(col("is_dup") === 0).select(col(idCol)),
      Seq(idCol), "left_semi")

  // ---- exact per-group centroids -----------------------------------------

  /** Per-group embedding centroids over MICRO-QUANTIZED components — the
    * auditable face of [[graft.functions.VectorMeanAgg]]: posexplode the
    * vector, quantize each component to an exact integer micro-unit
    * (`round(x·1e6)` — the same cross-engine rounding contract
    * [[quantizeInt8]] proves), sum int64 per (group, dimension) cell
    * (order-independent by construction), and divide by the group count.
    * One row per (group, dimension) — re-pack with
    * `sort_array(collect_list)` when a vector column is needed downstream.
    *
    * Why quantize instead of a DECIMAL accumulator (the repo-wide dsum
    * rule): dsum is exact only when inputs are exact multiples of 10^-s —
    * DuckDB's double→DECIMAL cast routes through `x·10^s` in DOUBLE
    * arithmetic, so at the scale arbitrary floats would need (s≥16) the
    * conversion itself is lossy and engine-divergent. Integer
    * micro-quantization makes the contract explicit and exact.
    *
    * Scale: the explode shuffles dim× (group, pos, int64) rows — the price
    * of the auditable exact face. The production face for 100 TB is
    * [[graft.functions.VectorMeanAgg]] (partial dim-double buffers, ONE
    * buffer per group per task on the exchange, no explode) — float means
    * whose partial-order nondeterminism is harmless when the consumer is a
    * pivot/codebook refinement ([[ivfRefinePivots]], [[pqRefineCodebook]]). */
  def groupCentroidsMicro(df: DataFrame, vecCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), posexplode(Fns.vecD(col(vecCol))).as(Seq("pos", "__x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__x") * lit(1e6)).cast("long")).as("sum_micro"))
      .withColumn("mean_micro",
        col("sum_micro").cast("double") / col("n").cast("double"))

  // ---- int8 scalar quantization ------------------------------------------
  // Max-abs symmetric quantization: q_i = round(127·x_i / maxabs(x)). Cuts
  // corpus vector memory 4× (the standard SQ8 trick in FAISS-style ANN
  // stacks) and turns the scan-side score into pure integer arithmetic.
  // Similarity ORDER is preserved per query because the per-vector scales
  // cancel out of the cosine up to rounding noise; the exact re-rank stays
  // available from the float column. At 100 TB the quantized codes compose
  // with the IVF index — [[ivfAssignQuantized]] stores codes (+ their
  // integer self-dot) instead of floats, and [[ivfSearchQuantized]] scores
  // probed lists with [[quantizedCosineFromDots]] before an exact float
  // re-rank of the shortlist — so the probe stage streams 1/4 the bytes.
  //
  // Cross-engine determinism: x/maxabs and ·127 are IEEE-exact in both
  // engines; round() is away-from-zero on ties in Spark (BigDecimal
  // HALF_UP) and DuckDB alike, and the rounded value is an integral double,
  // which both engines cast to the same int. Integer dots are exact.

  /** Per-vector max-abs, floored at 1e-30 so a zero vector quantizes to
    * zeros instead of NaNs (0/tiny → 0). */
  private def maxAbs(d: Column): Column =
    greatest(array_max(transform(d, x => abs(x))), lit(1e-30))
  private def maxAbsSql(dE: String): String =
    s"GREATEST(list_max(list_transform($dE, x -> abs(x))), 1e-30)"

  /** float array → int8 codes (as array<int>, values in [-127, 127]). */
  def quantizeInt8(vec: Column): Column = {
    val d = Fns.vecD(vec)
    val m = maxAbs(d)
    transform(d, x => round(x * lit(127.0) / m).cast("int"))
  }
  def quantizeInt8Sql(vecE: String): String = {
    val d = Fns.vecDSql(vecE)
    s"list_transform($d, x -> CAST(round(x * 127.0 / ${maxAbsSql(d)}) AS INT))"
  }

  /** Exact integer dot product of two code arrays (≤ 127²·dim, fits long).
    * Declarative HOF formulation — kept as the semantic reference the spec
    * pins [[VectorExprs.intDotF]] against; hot paths use the fused kernel. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)
  def intDotSql(aE: String, bE: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(($aE)[i]*($bE)[i] AS BIGINT) " +
      s"FOR i IN generate_series(1, len($aE))]), (acc, x) -> acc + x)"

  /** Cosine from precomputed integer dots: the scan-side hot path when the
    * corpus self-dot is materialized next to the codes (one column, computed
    * once at quantization time) and the query self-dot is hoisted into the
    * broadcast row — the per-row cost is then ONE fused dot instead of
    * three. The 1e-30 denominator floor keeps a zero-code vector (all-zero
    * input) at 0.0 instead of 0/0 — which Spark folds to NULL but DuckDB
    * (ieee_floating_point_ops) folds to NaN, a cross-engine divergence. */
  def quantizedCosineFromDots(ab: Column, aa: Column, bb: Column): Column =
    ab.cast("double") / greatest(sqrt(aa.cast("double") * bb.cast("double")), lit(1e-30))

  /** Cosine over int8 codes: fused integer dots, one double division. */
  def quantizedCosine(a: Column, b: Column): Column =
    quantizedCosineFromDots(VectorExprs.intDotF(a, b),
      VectorExprs.intDotF(a, a), VectorExprs.intDotF(b, b))
  def quantizedCosineSql(aE: String, bE: String): String =
    s"(CAST(${intDotSql(aE, bE)} AS DOUBLE) / " +
      s"GREATEST(sqrt(CAST(${intDotSql(aE, aE)} AS DOUBLE) * CAST(${intDotSql(bE, bE)} AS DOUBLE)), 1e-30))"

  // ---- int4 (SQ4) packed quantization ------------------------------------
  // The next rung under SQ8: codes in [-7, 7] packed two per byte — 8× less
  // memory than the float column, 2× less than SQ8, at coarser rounding
  // (recall governed by the same shortlist + exact-re-rank pattern). Code
  // VALUES come from the identical round(k·x/maxabs) path as SQ8, so the
  // cross-engine rounding contract q66 proves carries over unchanged; the
  // nibble packing is engine-internal bit layout the oracle never sees
  // (scores are exact integers either way).

  /** float array → int4 codes packed two-per-byte (binary). */
  def quantizeInt4(vec: Column): Column = {
    val d = Fns.vecD(vec)
    val m = maxAbs(d)
    VectorExprs.int4Pack(transform(d, x => round(x * lit(7.0) / m).cast("int")))
  }
  /** Oracle face: the UNPACKED int4 code list — dot products over code
    * values are definitionally equal to [[VectorExprs.int4DotF]] over the
    * packed form (VectorExprsSpec pins it). */
  def quantizeInt4Sql(vecE: String): String = {
    val d = Fns.vecDSql(vecE)
    s"list_transform($d, x -> CAST(round(x * 7.0 / ${maxAbsSql(d)}) AS INT))"
  }

  // ---- product quantization (PQ) -----------------------------------------
  // The top rung of the quantization ladder (SQ8 → SQ4 → PQ, the FAISS
  // index family): split the D-dim vector into M equal subspaces and encode
  // each as the id of its L2-nearest codebook entry — M small ints per
  // vector (M bytes at K≤256 vs 4·D float bytes: 32× smaller at D=64, M=8).
  // Scoring is ADC (asymmetric distance computation): the QUERY precomputes
  // per-subspace lookup tables — dot and self-norm of every codebook
  // entry's slice against the query slice — and the scan-side score is M
  // table lookups per corpus row ([[graft.functions.LutSum]]): no float
  // math against corpus vectors at all. Approximate cosine =
  // reconDot / sqrt(reconNorm² · queryNorm²), i.e. the cosine of the
  // RECONSTRUCTED vector — exact re-rank of a shortlist recovers recall,
  // the same pattern as [[ivfSearchQuantized]].
  //
  // Codebook: the K lowest-id corpus vectors (deterministic and
  // SQL-reproducible, the same trick [[ivfAssign]] uses for pivots);
  // production swaps in k-means-refined codebooks through the same
  // operators without touching the encode/score path. Ties in the encode
  // argmin go to the FIRST minimum (smallest k) in both engines.

  /** Packed PQ codebook as ONE broadcast row (`__cbs`: array of K
    * double-vectors, ordered by id) — K rows reduced driver-free, the
    * [[ivfAssign]] packing pattern. */
  def pqCodebook(corpus: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame =
    broadcast(corpus.filter(col(idCol) < k)
      .select(struct(col(idCol).as("__id"), Fns.vecD(col(vecCol)).as("__v")).as("__e"))
      .agg(sort_array(collect_list(col("__e"))).as("__cb"))
      .select(transform(col("__cb"), e => e.getField("__v")).as("__cbs")))

  /** Query-side ADC dot LUT: lut[m][k] = dot(codebook[k]ₘ, queryₘ), built
    * declaratively (runs ONCE on the broadcast query row — per-row HOF cost
    * is irrelevant here; the corpus-side hot path is [[graft.functions
    * .LutSum]]). `qd` must already be a double array ([[Fns.vecD]]). */
  def pqDotLut(cbs: Column, qd: Column, numSub: Int): Column = {
    val d = size(qd) / numSub
    transform(sequence(lit(0), lit(numSub - 1)), m =>
      transform(cbs, c => Fns.dot(slice(c, m * d + 1, d), slice(qd, m * d + 1, d))))
  }

  /** Query-side ADC norm LUT: lut[m][k] = norm²(codebook[k]ₘ). */
  def pqNormLut(cbs: Column, numSub: Int): Column = {
    val d = size(element_at(cbs, 1)) / numSub
    transform(sequence(lit(0), lit(numSub - 1)), m =>
      transform(cbs, c => Fns.dot(slice(c, m * d + 1, d), slice(c, m * d + 1, d))))
  }

  // Oracle faces (DuckDB SQL mirroring the kernels' exact fold orders; all
  // comprehension variables are 1-based as DuckDB lists are).
  private def pqSubSql(vE: String, mE: String, d: Int): String =
    s"list_slice($vE, ($mE-1)*$d+1, ($mE)*$d)"
  private def pqL2Sql(aE: String, bE: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [(($aE)[i]-($bE)[i])*(($aE)[i]-($bE)[i]) " +
      s"FOR i IN generate_series(1, len($aE))]), (acc, x) -> acc + x)"

  /** Oracle face of [[graft.functions.PqEncode]] (0-based codes; first-min
    * ties via `list_position(dists, list_min(dists))`). */
  def pqEncodeSql(embE: String, cbsE: String, numSub: Int, d: Int, k: Int): String = {
    val dists = s"[ ${pqL2Sql(pqSubSql(s"($cbsE)[k]", "m", d), pqSubSql(embE, "m", d))} " +
      s"FOR k IN generate_series(1, $k) ]"
    s"[ CAST(list_position($dists, list_min($dists)) AS INT) - 1 FOR m IN generate_series(1, $numSub) ]"
  }
  def pqDotLutSql(cbsE: String, qE: String, numSub: Int, d: Int, k: Int): String =
    s"[ [ ${Fns.dotSql(pqSubSql(s"($cbsE)[k]", "m", d), pqSubSql(qE, "m", d))} " +
      s"FOR k IN generate_series(1, $k) ] FOR m IN generate_series(1, $numSub) ]"
  def pqNormLutSql(cbsE: String, numSub: Int, d: Int, k: Int): String =
    s"[ [ ${Fns.dotSql(pqSubSql(s"($cbsE)[k]", "m", d), pqSubSql(s"($cbsE)[k]", "m", d))} " +
      s"FOR k IN generate_series(1, $k) ] FOR m IN generate_series(1, $numSub) ]"
  /** Oracle face of [[graft.functions.LutSum]] (left fold over m). */
  def pqLutSumSql(lutE: String, codesE: String, numSub: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [ ($lutE)[m][($codesE)[m]+1] " +
      s"FOR m IN generate_series(1, $numSub) ]), (acc, x) -> acc + x)"

  /** One-or-more k-means refinement passes over a PQ codebook — the PQ
    * analog of [[ivfRefinePivots]]: encode the corpus (map-side fused
    * argmin), then recenter every (subspace, code) cell on the elementwise
    * mean of the sub-slices it attracted ([[graft.functions.VectorMean]]
    * partial buffers — the exchange carries at most M·K d-dim buffers per
    * task, never the slices). Cells that attract nothing keep their old
    * slice. The M·K mean rows are collected to the driver to rebuild the
    * codebook literal — driver-tiny by construction (a codebook is a
    * broadcast-scale object, the same class as the probe-id collect).
    * The deterministic lowest-id codebook stays the oracle face
    * ([[pqCodebook]]); this is the offline refinement that improves cell
    * balance/quantization error on clustered data. */
  def pqRefineCodebook(corpus: DataFrame, codebook: DataFrame, vecCol: String,
                       numSub: Int, iters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    var entries: Seq[Seq[Double]] = codebook.select(col("__cbs")).first()
      .getSeq[scala.collection.Seq[Double]](0).map(_.toVector).toVector
    val dim = entries.head.length
    require(numSub > 0 && dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val d = dim / numSub
    for (_ <- 1 to iters) {
      val cbDf = broadcast(spark.range(1).select(typedlit(entries).as("__cbs")))
      val subMeans = corpus.crossJoin(cbDf)
        .select(Fns.vecD(col(vecCol)).as("__v"),
          VectorExprs.pqEncodeF(col(vecCol), col("__cbs"), numSub).as("__codes"))
        .select(posexplode(col("__codes")).as(Seq("__m", "__k")), col("__v"))
        .select(col("__m"), col("__k"),
          slice(col("__v"), col("__m") * d + 1, lit(d)).as("__sub"))
        .groupBy(col("__m"), col("__k"))
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("__sub")).as("__mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).map(_.toDouble))
        .toMap
      entries = entries.zipWithIndex.map { case (e, k) =>
        (0 until numSub).flatMap(m =>
          subMeans.getOrElse((m, k), e.slice(m * d, m * d + d))).toSeq
      }
    }
    broadcast(spark.range(1).select(typedlit(entries).as("__cbs")))
  }

  // ---- PQ × IVF composition (IVFPQ) --------------------------------------

  /** IVF index with PQ payloads: nearest-pivot assignment as [[ivfAssign]],
    * per-vector payload = the M PQ codes — floats dropped. At D=64/M=8 the
    * persisted index streams ~1/32 of the float bytes per probed row; write
    * with [[ivfWriteIndex]] for file-level probe pruning. */
  def ivfAssignPq(corpus: DataFrame, pivots: DataFrame, codebook: DataFrame,
                  vecCol: String, idCol: String, pivotIdCol: String,
                  numSub: Int): DataFrame =
    ivfAssign(corpus, pivots, vecCol, idCol, pivotIdCol)
      .crossJoin(codebook)
      .select(col(idCol),
        VectorExprs.pqEncodeF(col(vecCol), col("__cbs"), numSub).as("codes"),
        col("centroid_id"))

  /** IVF search over a PQ index ([[ivfAssignPq]]): driver probe ranking →
    * literal isin (partition pruning), ADC scoring of probed lists (M
    * lookups per row, LUTs riding the broadcast query row), exact float
    * re-rank of the top-`shortlist` against `corpus`. The FAISS IVFPQ
    * ladder: coarse quantize → table-lookup scan → exact re-rank. No stage
    * shuffles vectors; the probed scan reads codes only. */
  def ivfSearchPq(index: DataFrame, pivots: DataFrame, codebook: DataFrame,
                  query: DataFrame, corpus: DataFrame, vecCol: String,
                  idCol: String, pivotIdCol: String, numSub: Int, k: Int,
                  nprobe: Int, shortlist: Int = -1): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val q = broadcast(query.crossJoin(codebook)
      .select(col(vecCol).as("__qv"),
        pqDotLut(col("__cbs"), Fns.vecD(col(vecCol)), numSub).as("__dlut"),
        pqNormLut(col("__cbs"), numSub).as("__nlut"),
        VectorExprs.dotF(col(vecCol), col(vecCol)).as("__qn2")))
    val probeCids = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
      .orderBy(col("__pcos").desc, col("cid").asc)
      .limit(nprobe)
      .collect().map(_.get(0))
    val candidates = index.filter(col("centroid_id").isin(probeCids: _*))
      .crossJoin(q)
      .select(col(idCol),
        quantizedCosineFromDots(
          VectorExprs.lutSumF(col("codes"), col("__dlut")),
          VectorExprs.lutSumF(col("codes"), col("__nlut")),
          col("__qn2")).as("__pqcos"))
      .orderBy(col("__pqcos").desc, col(idCol).asc)
      .limit(sl)
      .select(idCol)
    corpus.join(broadcast(candidates), idCol)
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- SQ8 × IVF composition ---------------------------------------------

  /** IVF index with SQ8 payloads: same nearest-pivot assignment as
    * [[ivfAssign]], but the stored per-vector payload is the int8 code array
    * plus its integer self-dot (`code_self_dot`, computed ONCE here so probe
    * scans never recompute it) — the float column is dropped. The persisted
    * index streams ~1/4 the bytes per probed row; exact float re-rank
    * fetches floats for the SHORTLIST only (a k-sized id join back to the
    * corpus, broadcast by construction). Write with [[ivfWriteIndex]] for
    * file-level probe pruning, exactly as with the float index. */
  def ivfAssignQuantized(corpus: DataFrame, pivots: DataFrame,
                         vecCol: String, idCol: String, pivotIdCol: String): DataFrame =
    ivfAssign(corpus, pivots, vecCol, idCol, pivotIdCol)
      .withColumn("codes", quantizeInt8(col(vecCol)))
      .withColumn("code_self_dot", VectorExprs.intDotF(col("codes"), col("codes")))
      .select(col(idCol), col("codes"), col("code_self_dot"), col("centroid_id"))

  /** IVF search over a QUANTIZED index ([[ivfAssignQuantized]]): probe
    * ranking on the driver (literal isin filter → partition pruning, as
    * [[ivfSearchPruned]]), quantized-cosine scoring of the probed lists (one
    * fused integer dot per row — self-dots are precomputed on both sides),
    * then an exact float re-rank of the top-`shortlist` candidates against
    * `corpus` — the FAISS SQ8 ladder: coarse quantize → cheap scan → exact
    * re-rank. Recall relative to the float [[ivfSearch]] is governed by
    * `shortlist` (≥ k; the default 4·k absorbs SQ8 rounding inversions).
    *
    * Scale: the probed scan reads codes only (1/4 bytes), the shortlist is
    * k-sized and broadcast into the corpus for the re-rank, and the corpus
    * join is id-equi — runtime-filter/DPP friendly. No stage ever shuffles
    * vectors. */
  def ivfSearchQuantized(index: DataFrame, pivots: DataFrame, query: DataFrame,
                         corpus: DataFrame, vecCol: String, idCol: String,
                         pivotIdCol: String, k: Int, nprobe: Int,
                         shortlist: Int = -1): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    val q = broadcast(query
      .select(col(vecCol).as("__qv"), quantizeInt8(col(vecCol)).as("__qq"))
      .withColumn("__qsd", VectorExprs.intDotF(col("__qq"), col("__qq"))))
    val probeCids = pivots.select(col(pivotIdCol).as("cid"), col(vecCol).as("__cv"))
      .crossJoin(q)
      .select(col("cid"), VectorExprs.cosineF(col("__cv"), col("__qv")).as("__pcos"))
      .orderBy(col("__pcos").desc, col("cid").asc)
      .limit(nprobe)
      .collect().map(_.get(0))
    val candidates = index.filter(col("centroid_id").isin(probeCids: _*))
      .crossJoin(q)
      .select(col(idCol),
        quantizedCosineFromDots(VectorExprs.intDotF(col("codes"), col("__qq")),
          col("code_self_dot"), col("__qsd")).as("__qcos"))
      .orderBy(col("__qcos").desc, col(idCol).asc)
      .limit(sl)
      .select(idCol)
    corpus.join(broadcast(candidates), idCol)
      .crossJoin(q)
      .select(col(idCol), VectorExprs.cosineF(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- margin-based bitext mining ------------------------------------------

  /** Margin scoring over a candidate pair table (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining"; the CCMatrix/LASER alignment
    * criterion): a pair's raw cosine is normalized by the average similarity
    * of each side's k nearest neighbors, demoting hub vectors that are close
    * to everything. `pairs` must carry (a_id, b_id, c_micro) where c_micro =
    * ⌊cos·1e6⌋ — the integer quantization keeps every sum below exact and
    * both engines' margins bit-identical (the q87 trick applied to cosines).
    *
    * margin(a,b) = cos(a,b) / ((avgₖ(a) + avgₖ(b)) / 2), computed as
    * 2·c·ka·kb / (sa·kb + sb·ka) with one final IEEE division. Output: per
    * a_id its best b_id by (margin, b_id) — (a_id, b_id, c_micro, margin).
    *
    * Scale: both top-k passes are rank-≤-k filters that compile to
    * WindowGroupLimit (per-task truncation before the key shuffle); the
    * margin join is two id-keyed equi-joins against k-bounded aggregates.
    * The pair table itself is the pluggable stage: brute-force here at test
    * scale ([[bitextMargin]]), LSH/IVF candidates at 100 TB — the scoring
    * math is identical. */
  def marginFromPairs(pairs0: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Pin the candidate pairs once (the q117/q169 discipline): they are
    // referenced 3× below (both top-k passes + the scoring join); left lazy,
    // each reference re-derives the whole candidate generator — for q111 the
    // soft-IVF assign + blocked cosine join, re-planned and re-run per
    // consumer (plan was 811 lines / 52 Exchanges / 24 parquet scans).
    // Pinned payload is (a_id, b_id, c_micro) — 24 bytes/row, never vectors.
    val pairs = pairs0.localCheckpoint()
    def topSum(keyCol: String, tieCol: String, sumName: String, cntName: String) = {
      val w = Window.partitionBy(col(keyCol)).orderBy(col("c_micro").desc, col(tieCol))
      pairs.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
        .groupBy(col(keyCol))
        .agg(sum(col("c_micro")).as(sumName), count(lit(1)).as(cntName))
    }
    val sa = topSum("a_id", "b_id", "__sa", "__ka")
    val sb = topSum("b_id", "a_id", "__sb", "__kb")
    val scored = pairs.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), col("c_micro"),
        ((lit(2L) * col("c_micro") * col("__ka") * col("__kb")).cast("double")
          / (col("__sa") * col("__kb") + col("__sb") * col("__ka")).cast("double"))
          .as("margin"))
    val wBest = Window.partitionBy(col("a_id")).orderBy(col("margin").desc, col("b_id"))
    scored.withColumn("__rk", row_number().over(wBest)).filter(col("__rk") === 1)
      .select(col("a_id"), col("b_id"), col("c_micro"), col("margin"))
  }

  /** Brute-force face of [[marginFromPairs]]: all a×b cosines via the fused
    * codegen kernel, b broadcast (test-scale; swap the pair stage for ANN
    * candidates at scale). */
  def bitextMargin(a: DataFrame, b: DataFrame, vecCol: String, idCol: String,
                   k: Int): DataFrame = {
    val pa = a.select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val pb = b.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    val pairs = pa.crossJoin(broadcast(pb))
      .select(col("a_id"), col("b_id"),
        floor(VectorExprs.cosineF(col("__va"), col("__vb")) * lit(1e6))
          .cast("long").as("c_micro"))
    marginFromPairs(pairs, k)
  }

  /** Shared margin-scoring CTE tail over a `bm_p` (a_id, b_id, c_micro)
    * candidate table: bm_sa/bm_sb (k-NN integer sums) → bm_m (margin) →
    * bm_best (rk=1 per a_id). */
  private def marginCtesSql(k: Int): String =
    s"""bm_sa AS (SELECT a_id, SUM(c_micro) AS sa, COUNT(*) AS ka FROM (
       |    SELECT a_id, c_micro, row_number() OVER (
       |      PARTITION BY a_id ORDER BY c_micro DESC, b_id) AS rk FROM bm_p)
       |  WHERE rk <= $k GROUP BY 1),
       |bm_sb AS (SELECT b_id, SUM(c_micro) AS sb, COUNT(*) AS kb FROM (
       |    SELECT b_id, c_micro, row_number() OVER (
       |      PARTITION BY b_id ORDER BY c_micro DESC, a_id) AS rk FROM bm_p)
       |  WHERE rk <= $k GROUP BY 1),
       |bm_m AS (SELECT p.a_id, p.b_id, p.c_micro,
       |    CAST(2 * p.c_micro * sa.ka * sb.kb AS DOUBLE)
       |      / CAST(sa.sa * sb.kb + sb.sb * sa.ka AS DOUBLE) AS margin
       |  FROM bm_p p JOIN bm_sa sa USING (a_id) JOIN bm_sb sb USING (b_id)),
       |bm_best AS (SELECT a_id, b_id, c_micro, margin, row_number() OVER (
       |    PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk FROM bm_m)""".stripMargin

  /** Oracle face of [[bitextMargin]]: `aCte`/`bCte` expose (id, v); emits
    * CTEs ending in `bm_best` = (a_id, b_id, c_micro, margin, rk) with rk=1
    * rows matching the operator's output. */
  def bitextMarginSql(aCte: String, bCte: String, k: Int): String = {
    val cos = Fns.cosineSql(Fns.vecDSql("a.v"), Fns.vecDSql("b.v"))
    s"""bm_p AS (SELECT a.id AS a_id, b.id AS b_id,
       |    CAST(floor($cos * 1e6) AS BIGINT) AS c_micro
       |  FROM ($aCte) a, ($bCte) b),
       |${marginCtesSql(k)}""".stripMargin
  }

  /** Scale-safe candidate stage for [[marginFromPairs]]: soft-IVF-blocked
    * pairs instead of the brute a×b cross. Both sides soft-assign to their
    * `r` nearest pivots ([[ivfSoftAssign]]); candidates are co-bucketed
    * (a, b) pairs, de-duplicated on the pre-computed c_micro triple (the
    * [[ivfNeighborGraph]] shuffle trick). With a pivot count that grows
    * with the corpus (C ≈ n/targetList, the FAISS √n̄-style rule — see
    * q111), bucket sizes stay ≈ r·targetList CONSTANT as n grows, so
    * candidate work is Σ|bucket_a|·|bucket_b| = Θ(n) — linear, vs the
    * brute stage's Θ(n²) (the r9 sf1 soak measured exactly that blow-up).
    * Blocking recall (pairs straddling all shared buckets are unseen) is
    * the declared semantics, as in every ANN candidate stage. */
  def bitextMarginBlocked(a: DataFrame, b: DataFrame, pivots: DataFrame,
                          vecCol: String, idCol: String, pivotIdCol: String,
                          k: Int, r: Int): DataFrame = {
    def side(df: DataFrame, as: String, vas: String) =
      ivfSoftAssign(df, pivots, vecCol, idCol, pivotIdCol, r)
        .select(col("centroid_id").as(s"__c_$as"), col(idCol).as(as),
          col(vecCol).as(vas))
    val sa = side(a, "a_id", "__va")
    val sb = side(b, "b_id", "__vb")
    val pairs = sa.join(sb, col("__c_a_id") === col("__c_b_id"))
      .select(col("a_id"), col("b_id"),
        floor(VectorExprs.cosineF(col("__va"), col("__vb")) * lit(1e6))
          .cast("long").as("c_micro"))
      .distinct()
    marginFromPairs(pairs, k)
  }

  /** Oracle face of [[bitextMarginBlocked]]: `aCte`/`bCte` expose (id, v),
    * `pivCte` exposes (cid, pv). */
  def bitextMarginBlockedSql(aCte: String, bCte: String, pivCte: String,
                             k: Int, r: Int): String = {
    val pcos = Fns.cosineSql(Fns.vecDSql("s.v"), Fns.vecDSql("p.pv"))
    val cos = Fns.cosineSql(Fns.vecDSql("sa.v"), Fns.vecDSql("sb.v"))
    def soft(name: String, cte: String) =
      s"""$name AS (SELECT id, v, cid FROM (
         |    SELECT s.id, s.v, p.cid, row_number() OVER (PARTITION BY s.id
         |      ORDER BY $pcos DESC, p.cid) AS rn
         |    FROM ($cte) s, ($pivCte) p) t WHERE rn <= $r)""".stripMargin
    s"""${soft("bmb_sa", aCte)},
       |${soft("bmb_sb", bCte)},
       |bm_p AS (SELECT DISTINCT sa.id AS a_id, sb.id AS b_id,
       |    CAST(floor($cos * 1e6) AS BIGINT) AS c_micro
       |  FROM bmb_sa sa JOIN bmb_sb sb ON sa.cid = sb.cid),
       |${marginCtesSql(k)}""".stripMargin
  }
}
