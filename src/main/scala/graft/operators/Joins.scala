package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join materializer — the reference's `pandas_to_features` join core
  * (`/root/reference/smartpy_arc/arc_utils.py:923-953`).
  *
  * Semantics reproduced:
  *  - single equi-key pair, probe side = the feature class, build side = the
  *    incoming dataframe;
  *  - `KEEP_COMMON` = inner, `KEEP_ALL` = left outer (`:936-947`);
  *  - output field names UNQUALIFIED (`TempQualifiedFields(False)`, `:948`):
  *    on name collision the probe side wins and the build-side duplicate is
  *    dropped — matching arcpy's CopyFeatures of a joined layer where the
  *    first-bound field keeps the short name.
  *
  * Scale notes: the reference manually builds an attribute index on the build
  * side (`AddIndex`, `:931`) — the moral equivalent of choosing a hash build
  * side. Here Catalyst/AQE picks broadcast-hash vs sort-merge from size
  * stats; callers can force a broadcast with `broadcast(attrs)` when the
  * build side is a small dimension.
  */
object Joins {
  sealed trait KeepMode { def joinType: String }
  case object KeepCommon extends KeepMode { val joinType = "inner" }
  case object KeepAll extends KeepMode { val joinType = "left" }

  def joinToFeatures(features: DataFrame,
                     attrs: DataFrame,
                     featureKey: String,
                     attrKey: String,
                     mode: KeepMode = KeepCommon): DataFrame = {
    // Unqualified-name policy: probe-side columns keep their names; build-side
    // columns that collide (other than the key) are dropped.
    val collisions = attrs.columns.toSet.intersect(features.columns.toSet) - attrKey
    val build = collisions.foldLeft(attrs)((d, c) => d.drop(c))
    val joined = features.join(build, features(featureKey) === build(attrKey), mode.joinType)
    // The reference's joined output carries both key columns (qualified as the
    // short names of each table); drop the build key if it duplicates a
    // probe-side name, else keep both.
    if (attrKey == featureKey) joined.drop(build(attrKey)) else joined
  }

  /** AS-OF join (beyond the reference): for every left row, the single right
    * row with the same key and the greatest right-time ≤ left-time (inclusive
    * match); left rows with no prior right row keep nulls.
    *
    * Implementation is the scalable union-and-carry-forward form: tag both
    * sides, union, one window per key ordered by (time, tag) carrying the
    * last non-null right payload forward. Exactly ONE shuffle (by key) and a
    * per-key sort — no range cross-product, no per-row probe; at 100 TB this
    * is the only as-of shape that doesn't explode. Right rows must be unique
    * per (key, time) — pre-aggregate duplicates or the carried row is
    * nondeterministic.
    *
    * Matches DuckDB `ASOF LEFT JOIN ... ON l.k = r.k AND l.t >= r.t`
    * (the oracle for q24).
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // right rows sort BEFORE left rows at equal (key, time) → inclusive (≥)
    val l = left
      .withColumn("__tag", lit(1))
      .select(Seq(col(leftKey).as("__k"), col(leftTime).as("__t"), col("__tag")) ++
        leftCols.map(col) ++ rightCols.map(c => lit(null).as(s"__r_$c")): _*)
    val r = right
      .withColumn("__tag", lit(0))
      .select(Seq(col(rightKey).as("__k"), col(rightTime).as("__t"), col("__tag")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.map(c => col(c).as(s"__r_$c")): _*)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .select(Seq(col("__tag")) ++ leftCols.map(col) ++
        rightCols.map(c => last(col(s"__r_$c"), ignoreNulls = true).over(w).as(c)): _*)
    carried.filter(col("__tag") === 1).drop("__tag")
  }

  /** Binned RANGE join (beyond the reference): pair every point row with
    * every interval row whose [lo, hi] contains the point.
    *
    * A naive theta-join is a cross product (Spark falls back to
    * BroadcastNestedLoop/Cartesian — quadratic). The scale-safe shape bins
    * the value domain: each interval explodes to the bins it covers
    * (`(hi-lo)/binWidth + 1` rows), each point maps to one bin, the join is
    * a plain EQUI-join on bin, and the exact `between` filter runs after.
    * Cost is |intervals|·spanBins + |points| shuffled by bin — linear, AQE
    * handles hot bins. Pick binWidth ≈ the typical interval span so the
    * blow-up factor stays ~2×.
    */
  def rangeJoinBinned(points: DataFrame, pointCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    val iv = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
                       floor(col(hiCol) / binWidth).cast("long"))))
    val pt = points.withColumn("__bin", floor(col(pointCol) / binWidth).cast("long"))
    pt.join(iv, Seq("__bin"))
      .filter(col(pointCol).between(col(loCol), col(hiCol)))
      .drop("__bin")
  }

  /** Spatial join (point-in-polygon) by grid binning — the feature-class
    * query shape the reference's model invites but arcpy executes natively
    * (select-by-location): which points fall inside which polygons.
    *
    * Same no-cartesian discipline as [[rangeJoinBinned]], lifted to 2-D:
    * each polygon's MBR ([[PolyGeom.polygonMbr]], one compiled pass) is
    * replicated to every `cellSize`-sized grid cell it touches; each point
    * lands in exactly ONE cell (`floor(px/c), floor(py/c)`), so the join is
    * a plain EQUI-join on (cellx, celly) and the exact even-odd ray-cast
    * ([[PolyGeom.pointInPolygon]], codegen'd) verifies survivors. A point
    * meets each polygon at most once (one cell per point), so no dedup pass
    * is needed.
    *
    * Scale: cost is |polys|·cellsPerMbr + |points| shuffled by cell —
    * linear, never |points|·|polys|. Pick `cellSize` ≈ the typical MBR side
    * so replication stays ~4×; AQE handles hot cells (urban cores), salting
    * ([[Salting]]) if one cell dominates. The candidate verify rate is the
    * MBR fill factor — report via [[graft.operators.TableStats]] if tuning. */
  def spatialJoinGrid(points: DataFrame, pxCol: String, pyCol: String,
                      polys: DataFrame, ringsCol: String,
                      cellSize: Double): DataFrame = {
    val pb = polys
      .withColumn("__mbr", PolyGeom.polygonMbr(col(ringsCol)))
      .withColumn("__cx", explode(sequence(
        floor(col("__mbr.xmin") / cellSize).cast("long"),
        floor(col("__mbr.xmax") / cellSize).cast("long"))))
      .withColumn("__cy", explode(sequence(
        floor(col("__mbr.ymin") / cellSize).cast("long"),
        floor(col("__mbr.ymax") / cellSize).cast("long"))))
      .drop("__mbr")
    val pt = points
      .withColumn("__cx", floor(col(pxCol) / cellSize).cast("long"))
      .withColumn("__cy", floor(col(pyCol) / cellSize).cast("long"))
    pt.join(pb, Seq("__cx", "__cy"))
      .filter(PolyGeom.pointInPolygon(col(ringsCol), col(pxCol), col(pyCol)))
      .drop("__cx", "__cy")
  }

  /** Polygon-polygon MBR overlap self-join with REFERENCE-POINT dedup —
    * the other half of the spatial-join pack ([[spatialJoinGrid]] is
    * point-in-polygon): all unordered pairs whose bounding rectangles
    * strictly overlap, with the exact intersection area.
    *
    * Both MBRs replicate to every grid cell they touch, so a pair sharing
    * k cells would surface k times. The classic fix — `distinct()` — is a
    * full extra shuffle of the pair set. The reference-point trick needs
    * NO dedup pass: only the cell containing the intersection rectangle's
    * lower-left corner claims the pair (that corner lies in exactly one
    * cell, and any cell where the pair meets contains part of the
    * intersection, so the claiming cell always sees the pair). Each pair
    * emits exactly once, straight out of the equi-join — zero extra
    * shuffles, the plan has no aggregate at all (PlansSpec asserts).
    *
    * Scale: |polys|·cellsPerMbr replicated rows, equi-shuffled by cell;
    * pair volume is Σ_cell |cell|² — the blocked-pairs bound, kept ~|output|
    * by a cell size ≈ the typical MBR side. Output: (id_a, id_b, area),
    * id_a < id_b. */
  def mbrOverlapJoin(polys: DataFrame, idCol: String, ringsCol: String,
                     cellSize: Double): DataFrame = {
    val m = polys
      .withColumn("__mbr", PolyGeom.polygonMbr(col(ringsCol)))
      .select(col(idCol), col("__mbr.xmin").as("x0"), col("__mbr.ymin").as("y0"),
        col("__mbr.xmax").as("x1"), col("__mbr.ymax").as("y1"))
    val cells = m
      .withColumn("__cx", explode(sequence(
        floor(col("x0") / cellSize).cast("long"),
        floor(col("x1") / cellSize).cast("long"))))
      .withColumn("__cy", explode(sequence(
        floor(col("y0") / cellSize).cast("long"),
        floor(col("y1") / cellSize).cast("long"))))
    def side(tag: String) = cells.select(col("__cx"), col("__cy"),
      col(idCol).as(s"id_$tag"), col("x0").as(s"${tag}x0"), col("y0").as(s"${tag}y0"),
      col("x1").as(s"${tag}x1"), col("y1").as(s"${tag}y1"))
    side("a").join(side("b"), Seq("__cx", "__cy"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__ix0", greatest(col("ax0"), col("bx0")))
      .withColumn("__iy0", greatest(col("ay0"), col("by0")))
      .withColumn("__ix1", least(col("ax1"), col("bx1")))
      .withColumn("__iy1", least(col("ay1"), col("by1")))
      .filter(col("__ix0") < col("__ix1") && col("__iy0") < col("__iy1"))
      .filter(floor(col("__ix0") / cellSize).cast("long") === col("__cx") &&
        floor(col("__iy0") / cellSize).cast("long") === col("__cy"))
      .select(col("id_a"), col("id_b"),
        ((col("__ix1") - col("__ix0")) * (col("__iy1") - col("__iy0"))).as("area"))
  }

  /** Blocked fuzzy self-match (record linkage / fuzzy dedup): all unordered
    * pairs sharing a blocking key whose strings sit within `maxDist`
    * Levenshtein edits. Output: (block, id_a, id_b, dist), id_a < id_b.
    *
    * The blocking key is the classic linkage trade: the quadratic term is
    * capped at Σ|block|² instead of n² (the [[Similarity.blockedPairsCosine]]
    * shape for strings), and the join is a plain equi-shuffle on the block —
    * no all-pairs comparison ever materializes. Pick blocks so true matches
    * rarely straddle them (sort-key prefix, phonetic code, length band —
    * possibly several passes unioned, each a cheap equi-join).
    *
    * `levenshtein` is the classic full-DP edit distance in both engines —
    * exact integer, no cross-engine drift. Spark evaluates it codegen'd;
    * cost is O(|a|·|b|) per candidate pair, so keep blocked strings short
    * (a prefix/key field, not document bodies). */
  def blockedLevenshtein(df: DataFrame, idCol: String, strCol: String,
                         blockCol: String, maxDist: Int): DataFrame = {
    val a = df.select(col(blockCol).as("block"), col(idCol).as("id_a"),
      col(strCol).as("__sa"))
    val b = df.select(col(blockCol).as("block"), col(idCol).as("id_b"),
      col(strCol).as("__sb"))
    a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Oracle face of [[blockedLevenshtein]] over a (block, id, s) CTE. */
  def blockedLevenshteinSql(fromCte: String, maxDist: Int): String =
    s"""SELECT a.block AS block, a.id AS id_a, b.id AS id_b,
       |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
       |FROM $fromCte a JOIN $fromCte b ON a.block = b.block AND a.id < b.id
       |WHERE levenshtein(a.s, b.s) <= $maxDist""".stripMargin

  /** Multi-pass bounded-block fuzzy self-match — the scale-safe successor to
    * [[blockedLevenshtein]] when no natural key keeps blocks bounded as the
    * corpus grows (a fixed-cardinality key like nation makes Σ|block|² =
    * n²/C: still quadratic).
    *
    * Each pass blocks on a SQL expression over the string column (bound as
    * `s`) — e.g. a long prefix and a suffix band, unioned so an edit in one
    * region is caught by the pass that ignores it. Every pass drops blocks
    * larger than `maxBlockSize` (the [[Dedup.lshCandidatePairs]] hot-bucket
    * cap, here as a HAVING on the block count), so per-pass work is bounded
    * by Σ min(|block|, cap)² ≤ n·cap — LINEAR in n with constant cap, at any
    * scale. Candidate pairs from all passes are unioned and de-duplicated;
    * the exact Levenshtein filter runs per candidate.
    *
    * Blocking recall is the declared semantics (as in all record linkage):
    * a pair straddling every pass's block is not reported. Choose passes so
    * true matches rarely straddle all of them — for ≤k edits, k+1
    * position-disjoint passes give the pigeonhole guarantee on equal-length
    * strings.
    *
    * Shuffle shape: per pass one groupBy(block) for the cap + one
    * equi-shuffle join on block (same key — the exchange is reusable), then
    * one distinct on the (id_a, id_b, dist) triple. No all-pairs comparison
    * ever materializes.
    */
  def blockedLevenshteinPasses(df: DataFrame, idCol: String, strCol: String,
                               maxDist: Int, passExprs: Seq[String],
                               maxBlockSize: Int): DataFrame = {
    require(passExprs.nonEmpty, "at least one blocking pass required")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val passes = passExprs.map { pe =>
      // One scan + ONE shuffle per pass: gather each block's (id, s) rows
      // into an array (the cap bounds it at maxBlockSize structs), then a
      // double explode emits the within-block pairs — no self-join, no
      // second scan for the cap side. Per-block memory is cap-bounded by
      // construction; oversized blocks are dropped whole (same HAVING
      // semantics as the SQL face).
      base.select(expr(pe).as("block"), col("id"), col("s"))
        .groupBy("block")
        .agg(collect_list(struct(col("id"), col("s"))).as("__items"))
        .filter(size(col("__items")) <= maxBlockSize)
        .select(explode(col("__items")).as("a"), col("__items"))
        .select(col("a"), explode(col("__items")).as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          levenshtein(col("a.s"), col("b.s")).as("dist"))
        .filter(col("dist") <= maxDist)
    }
    passes.reduce(_ unionByName _).distinct()
  }

  /** Oracle face of [[blockedLevenshteinPasses]]. `fromSelect` must yield
    * (id, s); `passExprs` are the SAME expression strings the Spark face
    * compiles via `expr`, so both engines block identically. */
  def blockedLevenshteinPassesSql(fromSelect: String, maxDist: Int,
                                  passExprs: Seq[String],
                                  maxBlockSize: Int): String = {
    val ctes = passExprs.zipWithIndex.map { case (pe, i) =>
      s"""p$i AS (SELECT $pe AS block, id, s FROM base),
         |ok$i AS (SELECT block FROM p$i GROUP BY block
         |         HAVING count(*) <= $maxBlockSize),
         |pairs$i AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(levenshtein(a.s, b.s) AS INT) AS dist
         |  FROM p$i a JOIN p$i b ON a.block = b.block AND a.id < b.id
         |  JOIN ok$i ON a.block = ok$i.block
         |  WHERE levenshtein(a.s, b.s) <= $maxDist)""".stripMargin
    }
    val unions =
      passExprs.indices.map(i => s"SELECT * FROM pairs$i").mkString(" UNION ALL ")
    s"""WITH base AS ($fromSelect),
       |${ctes.mkString(",\n")}
       |SELECT DISTINCT id_a, id_b, dist FROM ($unions) u""".stripMargin
  }

  /** Runtime bloom-filter semi-join reduction — the 100 TB fact⋈dim shape.
    *
    * When a shuffle join's build side carries a selective predicate,
    * Catalyst's `InjectRuntimeFilter` can plant a
    * `might_contain(bloom_filter_agg(build keys), probe key)` filter UNDER
    * the probe-side scan: the 100 TB fact table is row-filtered against a
    * megabyte-sized bloom of the surviving dim keys BEFORE it is shuffled,
    * so the exchange moves only rows that can possibly match (false-positive
    * rate bounded by the filter's NDV sizing; correctness is unaffected —
    * the join still applies the exact predicate after). On a 1000-executor
    * cluster this is routinely a 10-100× shuffle-volume cut for selective
    * dims; it is the optimizer-owned form of the manual semi-join-reduction
    * rewrite.
    *
    * Spark gates the rule on production-scale thresholds (probe scan ≥ 10 GB
    * by default) that a local fixture never meets, so this helper scopes the
    * thresholds down (and pins a shuffle join — a broadcast join already
    * prunes at the probe) for the duration of `body`
    * ([[graft.Session.withConfs]]). Confs bind at OPTIMIZATION time: run
    * the action (write/collect) INSIDE `body`, not on the returned lazy
    * plan. PlansSpec asserts the `might_contain` injection actually fires. */
  def withRuntimeBloom[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    graft.Session.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
}
