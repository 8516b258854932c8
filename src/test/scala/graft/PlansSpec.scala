package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Physical-plan shape assertions — the 100-TB contract.
  *
  * Correctness tests prove WHAT each operator computes; these prove HOW:
  * predicates reach the parquet scan, projections prune the read schema,
  * small dimensions broadcast, top-k never global-sorts, and the compiled
  * signature kernels keep the dedup scan shuffle-free. A regression here is
  * invisible at sf0.01 and fatal at 100 TB.
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The documents fixture rewritten as defaultParallelism files: the
    * at-scale shape (a multi-split scan), where `SplitAwareRepartition`
    * adds nothing. The one-file fixture gets the rule's round-robin
    * exchange under any kernel; the single-split twins below pin that it is
    * the only exchange added. */
  private lazy val splitDocs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("plans_split_")
      .resolve("documents").toString
    Tables.load(spark, sf, "documents")
      .repartition(spark.sparkContext.defaultParallelism).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("scan pushdown: filter reaches parquet, read schema pruned (q02 shape)") {
    val plan = formatted(SparkEntry.queries("q02_scan_pushdown")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("LessThan(l_shipdate"), plan)
    // projection pruning: read schema carries ONLY the 5 requested columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.split(",").length == 5, readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("flagship join broadcasts the dimension side (entry)") {
    val plan = formatted(SparkEntry.entry(spark))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("top-k uses TakeOrderedAndProject, not a global sort (q13)") {
    val plan = formatted(SparkEntry.queries("q13_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("aggregation is partial+final (map-side combine) (q16 shape)") {
    val plan = formatted(SparkEntry.queries("q16_agg_having")(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("minhash signature is a pure scan — zero exchanges before the signature") {
    val sig = Dedup.minhashSignature(splitDocs, "text", "doc_id", k = 8, w = 5)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan) // no explode either
  }

  test("minhash signature on one split: the rule's round-robin is the only exchange") {
    val plan = SplitPlans.physical(spark)(Dedup.minhashSignature(
      Tables.load(spark, sf, "documents"), "text", "doc_id", k = 8, w = 5))
    val ex = SplitPlans.exchanges(plan)
    assert(ex.length == 1 &&
      SplitPlans.isRuleExchange(ex.head, spark.sparkContext.defaultParallelism), plan)
    assert(!plan.toString.contains("Generate"), plan)
  }

  test("exact-dedup survivor exchange carries digests, never text (q36/q80 shape)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the static physical tree is inspectable node by node
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.load(spark, sf, "documents")
      val surv = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      val plan = surv.queryExecution.executedPlan
      // no sort-window over full rows anywhere
      assert(!plan.toString.contains("Window"), plan.toString)
      // the digest-keyed aggregation exchange must ship (digest, id) only —
      // the text column never enters any shuffle on the survivor branch
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.map(_.name)
      }
      val digestEx = exchanges.filter(_.exists(_.contains("__digest")))
      assert(digestEx.nonEmpty, exchanges.toString)
      digestEx.foreach(cols => assert(!cols.contains("text"), cols.toString))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("whole-stage codegen covers the fused vector kernel path (q34 shape)") {
    val df = SparkEntry.queries("q34_dedup_embedding_cosine")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_cosine"), plan)
    // the projection computing the fused kernel sits inside a codegen span
    val cosLine = plan.linesIterator.find(_.contains("graft_cosine")).get
    assert(cosLine.contains("*("), cosLine)
  }

  test("bucketed join on co-located tables needs no exchange") {
    import graft.operators.Bucketing
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "orders"), "b_orders", "o_custkey", 4)
    Bucketing.writeBucketed(
      Tables.load(spark, sf, "customer"), "b_customer", "c_custkey", 4)
    val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_customer",
      "o_custkey", "c_custkey")
    // disable broadcast so the bucket-vs-shuffle choice is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // co-located: zero shuffles
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout: partition pruning reaches the scan (PartitionFilters)") {
    Session.withScratch { s =>
      Tables.load(spark, sf, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.partitionBy("o_month").parquet(s"${s.dir}/orders_p")
      val df = spark.read.parquet(s"${s.dir}/orders_p")
        .filter(col("o_month") === "1995-03")
        .select("o_orderkey")
      val plan = formatted(df)
      val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
      assert(pf.contains("o_month"), plan)
      // the partition predicate must NOT appear as a data filter
      assert(!plan.contains("PushedFilters: [IsNotNull(o_month)"), plan)
    }
  }

  test("jaccard shingling is pruned to candidate-pair members before the explode") {
    val docs = Tables.load(spark, sf, "documents")
    val sig = Dedup.minhashSignature(docs, "text", "doc_id", k = 8, w = 5)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bands = 4, rows = 2)
    // jaccardForPairs pins its inputs eagerly (r20: the 4-consumer re-derive
    // fix), so the declared frame's plan reads checkpoints; the semi-join
    // property lives in the lazy shingle subframe it materializes.
    val j = Dedup.shingledMembers(pairs, docs, "text", "doc_id", w = 5)
    val plan = formatted(j)
    // the semi-join that restricts the corpus to pair members must exist…
    assert(plan.contains("LeftSemi"), plan)
    // …and sit BELOW the shingle explode: the first Generate (explode) in the
    // jaccard branch reads the semi-joined relation, not the raw corpus scan
    val semiIdx = plan.indexOf("LeftSemi")
    assert(semiIdx >= 0 && plan.contains("Generate"), plan)
  }

  test("batch KNN ranks with a bounded partial top-k aggregate, not a window (q42)") {
    val df = SparkEntry.queries("q42_knn_batch")(spark, sf)
    val plan = formatted(df)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    // map-side partial reduction: the partial aggregate runs BEFORE the
    // exchange, so the shuffle carries ≤k heap entries per query per task
    assert(plan.contains("partial_graft_top_k") || plan.contains("graft_top_k"), plan)
  }

  test("IVF assignment is shuffle-free on the corpus side (no window, no hash repartition)") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val index = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 8),
      "embedding", "vec_id", "vec_id")
    val plan = formatted(index)
    assert(!plan.contains("Window"), plan)
    // the only exchanges allowed are the tiny pivot-side single-partition agg
    // + broadcast; the corpus is never hash-repartitioned
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("partitioned IVF index: probed search prunes to the probed lists at file level") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val pivots = emb.filter(col("vec_id") < 8)
    Session.withScratch { s =>
      val path = s"${s.dir}/ivf_index"
      Similarity.ivfWriteIndex(
        Similarity.ivfAssign(emb, pivots, "embedding", "vec_id", "vec_id"), path)
      val index = Similarity.ivfOpenIndex(spark, path)
      val query = emb.filter(col("vec_id") === 0)
      val pruned = Similarity.ivfSearchPruned(index, pivots, query,
        "embedding", "vec_id", "vec_id", k = 5, nprobe = 2)
      // the probed list ids reach the scan as PARTITION filters, not data filters
      val plan = formatted(pruned)
      val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
      assert(pf.contains("centroid_id"), plan)
      // same hits as the join-shaped search over the in-memory index
      val joined = Similarity.ivfSearch(
        Similarity.ivfAssign(emb, pivots, "embedding", "vec_id", "vec_id"),
        pivots, query, "embedding", "vec_id", "vec_id", k = 5, nprobe = 2)
      assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        joined.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    }
  }

  test("IVFPQ assignment is shuffle-free on the corpus side (codebook rides broadcast)") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val cb = Similarity.pqCodebook(emb, "embedding", "vec_id", 16)
    val idx = Similarity.ivfAssignPq(emb, emb.filter(col("vec_id") < 8), cb,
      "embedding", "vec_id", "vec_id", numSub = 8)
    val plan = formatted(idx)
    // codebook + pivots reduce to single-partition broadcast rows; the
    // corpus pipeline (encode + assign) never hash-repartitions or windows
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("layer views stay lazy: filter through a temp view still reaches the scan") {
    val part = Tables.load(spark, sf, "part")
    graft.operators.Layers.createLayer(spark, part, "plan_probe_layer",
      where = Some("p_size > 25"))
    val plan = formatted(spark.table("plan_probe_layer").select("p_partkey"))
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,25)]"), plan)
  }

  test("partitioned parquet: source predicate prunes to PartitionFilters") {
    val scratch = new graft.Session.Scratch
    val path = s"${scratch.dir}/plans_docs_part"
    Tables.load(spark, sf, "documents")
      .write.mode("overwrite").partitionBy("source").parquet(path)
    val plan = formatted(
      spark.read.parquet(path).filter(col("source") === "src5").select("doc_id"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("(source = src5)") || plan.contains("isnotnull(source"), plan)
  }

  test("fuzzy linkage (q137): no cartesian, candidate gen is one shuffle per pass") {
    val plan = formatted(SparkEntry.queries("q137_fuzzy_match")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // pair generation rides collect_list + explode, not a self-join
    assert(plan.contains("Generate"), plan)
  }

  test("blocked bitext mining (q111): no unblocked cross join in the pair stage") {
    // The brute face was a deliberate CartesianProduct (a×b); the blocked
    // face must pair only co-bucketed rows via an equi-join on the bucket.
    val plan = formatted(SparkEntry.queries("q111_bitext_margin")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // rank <= k filters compile to per-task truncation
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("neighbor-graph build: rank limit compiles to WindowGroupLimit; dedup shuffles scalars") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val pivots = emb.filter(col("vec_id") < 8)
    val soft = Similarity.ivfSoftAssign(emb, pivots, "embedding", "vec_id", "vec_id", r = 2)
    val g = Similarity.ivfNeighborGraph(soft, "embedding", "vec_id", m = 3)
    val plan = g.queryExecution.executedPlan
    assert(plan.toString.contains("WindowGroupLimit"), plan.toString)
    // the pair-distinct exchange carries (src, dst, cos) — never embeddings
    val exchanges = plan.collect {
      case e: ShuffleExchangeExec => e.child.output.map(_.name)
    }
    exchanges.foreach(cols => assert(!cols.exists(_.contains("embedding")) &&
      !cols.exists(_.contains("__sv")) && !cols.exists(_.contains("__dv")),
      exchanges.toString))
  }

  private def incrementalDedupPlan(docs: DataFrame) =
    SplitPlans.physical(spark)(Dedup.incrementalDedup(
      docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
      "text", "doc_id", k = 8, w = 5, bands = 4, rows = 2))

  test("incremental dedup: no exchange ever carries the batch text") {
    // rejection keys (digests, band sigs, ids) may shuffle; text never does
    val exchanges = SplitPlans.exchanges(incrementalDedupPlan(splitDocs))
      .map(_.child.output.map(_.name))
    exchanges.foreach(cols => assert(!cols.contains("text"), exchanges.toString))
  }

  test("incremental dedup on one split: only the rule's round-robins carry text") {
    val single = SplitPlans.exchanges(incrementalDedupPlan(Tables.load(spark, sf, "documents")))
    val (added, rest) = single.partition(
      SplitPlans.isRuleExchange(_, spark.sparkContext.defaultParallelism))
    assert(added.nonEmpty, single.mkString("\n"))
    rest.foreach(e => assert(!e.child.output.map(_.name).contains("text"), e.toString))
    def kinds(es: Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) =
      es.map(_.outputPartitioning.getClass.getSimpleName).sorted
    assert(kinds(rest) == kinds(SplitPlans.exchanges(incrementalDedupPlan(splitDocs))),
      single.mkString("\n"))
  }

  test("rebalance seed ranking (q193): no unpartitioned window, exchanges vector-free") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Similarity
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the same vector-free (id, cos) shape ivfSplitRebalance feeds in —
      // the heavy cell can hold half the corpus, so a global window here
      // is a single-task sort at exactly the scale the operator exists for
      val scored = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), (col("vec_id") % 97).cast("double").as("__cos"))
      val (ranked, n) = Similarity.rangedGlobalRank(scored, "vec_id", shards = 8)
      assert(n > 0)
      val plan = ranked.queryExecution.executedPlan
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, plan.toString)
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        "unpartitioned window in rebalance seed ranking:\n" + plan.toString))
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.map(_.name)
      }
      exchanges.foreach(cols =>
        assert(!cols.exists(_.contains("embedding")), exchanges.toString))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("zipf fit (q139): explicit distributed TakeOrdered bounds the rank window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q139_zipf_fit")(spark, sf)
    val plan = formatted(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the one window ranks the ≤ topR surviving rows, never the full vocab:
    // every WindowExec must sit above the TakeOrdered in the tree
    val exec = df.queryExecution.executedPlan
    exec.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.toString.contains("TakeOrderedAndProject"),
        "rank window not bounded by TakeOrdered:\n" + exec.toString)
    }
  }

  test("merge-on-read resolution: thin delete keys broadcast into the anti join") {
    import graft.operators.Sinks
    val s = new Session.Scratch
    val dir = s"${s.dir}/mor_plan"
    // a real table-sized base vs a key-sized delete list — the 100 TB read
    // cost model only holds if the keys ride a broadcast, never a shuffle
    // of the base
    Sinks.writeSnapshot(Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "n_chars"), dir)
    Sinks.deleteSnapshotKeys(spark, dir,
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 50 === 0)
        .select("doc_id"), Seq("doc_id"))
    val resolved = Sinks.readSnapshot(spark, dir, None)
    // AQE wraps the tree (collect can't descend into AdaptiveSparkPlan's
    // lazily-planned inner plan) — assert on the rendered plan instead
    val plan = resolved.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "thin-delete anti join did not broadcast:\n" + plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // and the resolved content is still a plain declarative plan a filter
    // pushes through: pruning reaches the BASE scan
    val pruned = formatted(resolved.filter(col("n_chars") > 100).select("doc_id"))
    assert(pruned.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"),
      pruned)
    s.close()
  }

  test("thin chain through SQL: marker expands, pushdown reaches base scan, keys broadcast") {
    import graft.operators.Sinks
    val s = new Session.Scratch
    val cat = "plansnap_" + java.lang.Long.toHexString(System.nanoTime() & 0xffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.workspace", s.dir)
    Sinks.writeSnapshot(Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "n_chars"), s"${s.dir}/t")
    Sinks.deleteSnapshotKeys(spark, s"${s.dir}/t",
      Tables.load(spark, sf, "documents").filter(col("doc_id") % 50 === 0)
        .select("doc_id"), Seq("doc_id"))
    // the SQL route must produce the SAME plan shape as the direct
    // resolver: ResolveThinSnapshots expanded the marker during analysis,
    // so this is a declarative join tree Catalyst fully optimizes
    val df = spark.sql(s"SELECT doc_id FROM $cat.t WHERE n_chars > 100")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "SQL-served thin chain lost the broadcast anti join:\n" + plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val fmt = formatted(df)
    assert(fmt.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"),
      "predicate did not reach the base scan through the expanded chain:\n" + fmt)
    s.close()
  }

  test("runtime bloom reduction (q149): might_contain injected under the fact scan") {
    import graft.operators.Joins
    Joins.withRuntimeBloom(spark) {
      val li = Tables.load(spark, sf, "lineitem")
      val ord = Tables.load(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val opt = j.queryExecution.optimizedPlan.toString
      // the fact side is pre-filtered by a bloom of the surviving dim keys
      assert(opt.contains("might_contain"), opt.take(2000))
      assert(opt.contains("bloom_filter_agg"), opt.take(2000))
    }
  }

  test("z-order interleave: known bit patterns") {
    import graft.operators.Bucketing
    val r = spark.range(1).select(
      Bucketing.zOrder2(lit(0xFFFFL), lit(0L)).as("a_only"),
      Bucketing.zOrder2(lit(0L), lit(0xFFFFL)).as("b_only"),
      Bucketing.zOrder2(lit(3L), lit(1L)).as("mixed")).head()
    assert(r.getLong(0) == 0x55555555L) // a bits land on even positions
    assert(r.getLong(1) == 0xAAAAAAAAL.toLong) // b bits on odd positions
    assert(r.getLong(2) == 7L) // 3=0b11 -> 0b101; 1 -> 0b10
  }

  test("z-order clustering (q150): 2-D predicate lands in a strict file subset") {
    import graft.operators.Bucketing
    val scratch = new Session.Scratch
    val path = s"${scratch.dir}/orders_z"
    Bucketing.writeZOrdered(Tables.load(spark, sf, "orders"),
      "o_custkey", "o_orderdate", path, numFiles = 16)
    val back = spark.read.parquet(path)
    val total = back.select(input_file_name()).distinct().count()
    val hit = back.filter(col("o_custkey").between(10, 60) &&
        col("o_orderdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select(input_file_name()).distinct().count()
    assert(total == 16, s"total=$total")
    // a ~5% 2-D box must not touch most z-ordered files (a linear layout
    // spreads the second dimension across every file)
    assert(hit <= total / 2, s"hit=$hit of $total")
  }

  test("filtered ANN (q157): no cartesian over the corpus, k-bounded tail") {
    val plan = formatted(SparkEntry.queries("q157_filtered_ann")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the final top-k is a bounded heap, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the metadata predicate filters BEFORE the probe join's cosine scoring
    assert(plan.contains("label"), plan)
  }

  test("snapshot diff (q159): one full-outer join, packed-struct compare") {
    val plan = formatted(SparkEntry.queries("q159_snapshot_diff")(spark, sf))
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly one join NODE (formatted explain lists the tree and a detail
    // section — count detail entries): the N-column compare is one struct
    // equality, not N per-column join branches
    val joins = plan.linesIterator.count(l =>
      l.trim.startsWith("(") &&
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")))
    assert(joins == 1, s"$joins joins\n$plan")
  }

  test("snowflake join (q168): dims broadcast, no cartesian, agg partials") {
    val plan = formatted(SparkEntry.queries("q168_local_volume")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // region/nation (and the filtered supplier side) ride broadcast joins
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the revenue agg partial-aggregates before its exchange
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"), plan)
  }

  test("spatial join (q177): grid-binned equi-join, never a cartesian") {
    val plan = formatted(SparkEntry.queries("q177_spatial_join")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // candidate generation is a cell-keyed equi-join (either shuffle or
    // broadcast shape), with the MBR cell replication as a Generate
    assert(plan.contains("Generate"), plan)
    // the exact ray-cast verify runs as a codegen'd post-join filter
    assert(plan.contains("graft_point_in_polygon") ||
      plan.contains("PointInPolygon"), plan)
  }

  test("IVF index search (q179): static partition pruning, bounded scan fraction") {
    import graft.queries.PipelineQueries.{IdxSearchC, IdxSearchNprobe}
    val df = SparkEntry.queries("q179_ivf_index_search")(spark, sf)
    val plan = formatted(df)
    // the probed list ids are driver-side literals over the partition
    // column — the scan prunes partitions statically, no join to decide
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"), plan)
    // the single query row rides a broadcast; a CartesianProduct would mean
    // the index side got replicated instead
    assert(!plan.contains("CartesianProduct"), plan)
    // semantic scan fraction: rows in probed lists / index rows — at most
    // nprobe/C with slack for list imbalance on the tiny fixture
    df.collect()
    val idx = graft.operators.Similarity.ivfOpenIndex(spark,
      graft.queries.PipelineQueries.ivfIndexPathForTest(sf))
    val byList = idx.groupBy("centroid_id").count().collect()
      .map(r => r.getAs[Number]("centroid_id").longValue() -> r.getLong(1)).toMap
    val total = byList.values.sum.toDouble
    val worst = byList.values.toSeq.sorted.reverse.take(IdxSearchNprobe).sum / total
    assert(worst <= 3.0 * IdxSearchNprobe.toDouble / IdxSearchC,
      s"worst-case probed fraction $worst too high for $IdxSearchNprobe/$IdxSearchC lists")
  }

  test("IVF batch search (q182): equi-join candidates, probe window stays pivot-bounded") {
    val plan = formatted(SparkEntry.queries("q182_ivf_batch_search")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // candidates come from an equi-join on centroid_id, not an all-pairs scan
    assert(plan.contains("centroid_id"), plan)
    // the final ranking is the bounded-heap aggregate; the only Window in
    // the plan ranks |Q|·C pivot scores (WindowGroupLimit-pushed), never a
    // corpus-sized score set
    assert(plan.contains("topkbyscore") || plan.contains("TopKByScore") ||
      plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("MBR overlap join (q183): reference-point dedup — no aggregate, no distinct") {
    val plan = formatted(SparkEntry.queries("q183_mbr_overlap_join")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly-once emission comes from the claim-cell filter, not a dedup
    // pass: the whole plan carries ZERO aggregates
    assert(!plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan)
  }

  test("BPE kernel encode (q188): kernel evaluates ONCE, scan-stage, no shuffle before sort") {
    val plan = formatted(SparkEntry.queries("q188_bpe_kernel_encode")(spark, sf))
    // the n_bpe derivation references bpe_seg twice (empty-guard + split);
    // CollapseProject must NOT inline the kernel into both uses — that
    // would run the segmentation 3× per row (the q171 re-evaluation trap)
    val evals = "graft_bpe_encode".r.findAllIn(plan).length
    assert(evals == 1, s"kernel evaluated $evals times in plan:\n$plan")
    // pure scalar pipeline: the only exchange is the final orderBy's range
    // partitioning — no aggregate, no join (codegen friendliness is pinned
    // by the interpreted≡codegen test in TextMetricsSpec; formatted AQE
    // explain does not print codegen spans)
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Arguments: rangepartitioning"))
    assert(exchanges == 1 && !plan.contains("hashpartitioning"), plan)
  }

  test("video shot census (q203): kernel evaluates once, no join/agg, scan-stage") {
    val plan = formatted(SparkEntry.queries("q203_video_shots")(spark, sf))
    // five struct-field extractions must NOT re-inline the codec kernel
    // (the q171/q188 CollapseProject re-evaluation trap)
    val evals = "graft_video_shots".r.findAllIn(plan).length
    assert(evals == 1, s"kernel evaluated $evals times in plan:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"), plan)
  }

  test("video dhash near-dup (q204): banded equi-join, no cartesian, hash-only exchange") {
    val plan = formatted(SparkEntry.queries("q204_video_dhash")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the pair join must be keyed on (band, sig) — and no exchange may
    // carry the media payload (hashes only: 16 bytes however big the video)
    assert(plan.contains("band"), plan)
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("media_bytes"), plan)
  }

  test("streaming ANN probe shape (q202's kernel): per-row probes, no window, index not shuffled") {
    // batch-mode snapshot of the ivfStreamSearch plan (the streaming plan
    // is identical modulo the source): probe ranking must be the fused
    // kernel, never a |Q|·C window, and the index side must join via the
    // broadcast probe rows without repartitioning
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val pivots = emb.filter(col("vec_id") < 4)
    val idx = Similarity.ivfAssign(emb, pivots, "embedding", "vec_id", "vec_id")
    val plan = formatted(Similarity.ivfStreamSearch(idx, pivots,
      emb.filter(col("vec_id") < 2), "embedding", "vec_id", "vec_id", "vec_id",
      k = 3, nprobe = 2))
    assert(plan.contains("graft_nearest_pivots"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("curation funnel (q205): the five-stage funnel reads the corpus EXACTLY once") {
    val plan = formatted(SparkEntry.queries("q205_curation_funnel")(spark, sf))
    // the formatted tree names scans "(n) Scan parquet" with the location
    // in the details section — counting the numbered nodes counts sources
    val scans = plan.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    // survivorship is the only corpus-keyed window; the BPE kernel must
    // not be re-inlined by CollapseProject (evaluates once per row)
    val evals = "graft_bpe_encode".r.findAllIn(plan).length
    assert(evals == 1, s"kernel evaluated $evals times in plan:\n$plan")
  }

  test("dense surrogates (q163): every id-bearing window is shard-keyed") {
    val df = graft.operators.Curation.denseSurrogates(
      Tables.load(spark, sf, "events"), "user_id", "plansalt", 64)
    val plan = formatted(df)
    // the rank window must carry a partition spec (shard-keyed, parallel);
    // the only permissible single-partition window is the 64-row offset
    // cumulation, which operates AFTER the ids reduce to shard counts
    val windows = plan.linesIterator.filter(_.contains("row_number")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("__shard")), plan)
  }
}
