package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources

/** Driver-side file skipping from a snapshot version's `_manifest/v=N`
  * ([[graft.operators.Sinks.writeSnapshotWithManifest]] commits per-file
  * min/max stats atomically with the data). This is the planning half of
  * the Iceberg contract: at 100 TB / 100k files the manifest — a single
  * tiny parquet — decides which files a predicate can possibly touch with
  * ZERO data-file footer round-trips; the surviving list is handed to
  * Spark's own parquet scan, and the exact predicate always re-applies
  * after the skip (pruning is an optimization, never the correctness
  * path: a file is dropped only when its [min,max] range PROVES the
  * pushed conjunction false for every row it holds).
  *
  * Stats compare within their kind — numerics exactly (BigDecimal),
  * timestamps as epoch micros, dates as epoch days, strings in
  * UTF8String binary order (the ordering Spark's own min/max used to
  * build the manifest). Unknown filters, kind-mismatched or unparseable
  * literals, columns without stats, and NULL min/max (all-null chunks)
  * all evaluate to KEEP — conservative by construction, exactly like
  * parquet row-group skipping one level up. */
object ManifestPrune {

  def manifestDir(tableDir: String, version: Int): String =
    s"$tableDir/_manifest/v=$version"

  def exists(spark: SparkSession, tableDir: String, version: Int): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(tableDir, version))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Normalized comparable view of a stats/literal value. Kinds never
    * cross-compare (a numeric literal against a string stat keeps the
    * file); None = not comparable at all (keep). */
  private sealed trait NormV
  private case class NumV(x: BigDecimal) extends NormV
  private case class TsV(micros: Long) extends NormV
  private case class DateV(days: Long) extends NormV
  private case class StrV(s: org.apache.spark.unsafe.types.UTF8String)
    extends NormV

  private def norm(v: Any): Option[NormV] = v match {
    case null => None
    case b: java.lang.Byte => Some(NumV(BigDecimal(b.longValue)))
    case s: java.lang.Short => Some(NumV(BigDecimal(s.longValue)))
    case i: java.lang.Integer => Some(NumV(BigDecimal(i.longValue)))
    case l: java.lang.Long => Some(NumV(BigDecimal(l.longValue)))
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) None else Some(NumV(BigDecimal(f.doubleValue)))
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) None else Some(NumV(BigDecimal(d.doubleValue)))
    case d: java.math.BigDecimal => Some(NumV(BigDecimal(d)))
    case d: BigDecimal => Some(NumV(d))
    case d: org.apache.spark.sql.types.Decimal => Some(NumV(d.toBigDecimal))
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(TsV(Math.addExact(
        Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)))
    case i: java.time.Instant =>
      Some(TsV(Math.addExact(
        Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)))
    case d: java.sql.Date => Some(DateV(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(DateV(d.toEpochDay))
    // strings compare in UTF8String BINARY order — the ordering Spark's
    // own min/max aggregation used to compute the manifest stats
    // (java String.compareTo disagrees for supplementary characters)
    case s: String =>
      Some(StrV(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(StrV(u))
    case _ => None
  }

  /** compare(a, b) within one kind; None = incomparable (keep the file). */
  private def cmp(a: Any, b: Any): Option[Int] = (norm(a), norm(b)) match {
    case (Some(NumV(x)), Some(NumV(y))) => Some(x.compare(y))
    case (Some(TsV(x)), Some(TsV(y))) => Some(java.lang.Long.compare(x, y))
    case (Some(DateV(x)), Some(DateV(y))) => Some(java.lang.Long.compare(x, y))
    case (Some(StrV(x)), Some(StrV(y))) => Some(Integer.signum(x.compareTo(y)))
    case _ => None
  }

  /** One column's stats for one file: bounds, plus (since the footer-built
    * r15 manifests) the exact null count — None on legacy manifests. */
  private[sources] final case class ColRange(min: Any, max: Any,
                                             nullCount: Option[Long])

  /** Can any row of the file (per its stats and row count) satisfy `f`?
    * `stats` maps a lower-cased column name to its [[ColRange]]. */
  private def mayMatch(f: sources.Filter,
                       stats: Map[String, ColRange],
                       rowCount: Option[Long]): Boolean = {
    def range(c: String): Option[(Any, Any)] =
      stats.get(c.toLowerCase)
        .filter(r => r.min != null && r.max != null)
        .map(r => (r.min, r.max))
    def nulls(c: String): Option[Long] =
      stats.get(c.toLowerCase).flatMap(_.nullCount)
    // keep unless BOTH comparisons are defined and prove emptiness
    def test(c: String, v: Any)(
        p: (Option[Int], Option[Int]) => Boolean): Boolean =
      range(c) match {
        case Some((mn, mx)) => p(cmp(mn, v), cmp(mx, v))
        case None => true
      }
    def eq(c: String, v: Any): Boolean =
      test(c, v)((lo, hi) => lo.forall(_ <= 0) && hi.forall(_ >= 0))
    f match {
      case sources.And(l, r) =>
        mayMatch(l, stats, rowCount) && mayMatch(r, stats, rowCount)
      case sources.Or(l, r) =>
        mayMatch(l, stats, rowCount) || mayMatch(r, stats, rowCount)
      case sources.EqualTo(c, v) => eq(c, v)
      case sources.GreaterThan(c, v) =>
        test(c, v)((_, hi) => hi.forall(_ > 0))
      case sources.GreaterThanOrEqual(c, v) =>
        test(c, v)((_, hi) => hi.forall(_ >= 0))
      case sources.LessThan(c, v) =>
        test(c, v)((lo, _) => lo.forall(_ < 0))
      case sources.LessThanOrEqual(c, v) =>
        test(c, v)((lo, _) => lo.forall(_ <= 0))
      case sources.In(c, vs) =>
        vs.isEmpty || vs.exists(eq(c, _))
      // null-ness: decidable since the footer-built manifests carry exact
      // null counts — `IS NULL` drops a file with zero nulls, `IS NOT
      // NULL` drops a file that is all-null; legacy manifests (no counts)
      // keep everything, as before
      case sources.IsNull(c) => nulls(c).forall(_ > 0L)
      case sources.IsNotNull(c) => // prunable only when provably all-null
        !(for { n <- nulls(c); rc <- rowCount } yield n >= rc).getOrElse(false)
      case sources.EqualNullSafe(c, v) =>
        if (v == null) nulls(c).forall(_ > 0L) else eq(c, v)
      case _ => true
    }
  }

  /** Package entry for other manifest layers (the per-leaf partition
    * manifests): same conservative range/null-count test, caller-supplied
    * stats. */
  private[sources] def mayMatchStats(f: sources.Filter,
                                     stats: Map[String, ColRange],
                                     rowCount: Option[Long]): Boolean =
    mayMatch(f, stats, rowCount)

  /** The version's file list after the skip: (kept file paths, total
    * files). One driver read of the (tiny) manifest per scan build; every
    * pushed conjunct must be possibly-satisfiable for a file to survive. */
  def keptFiles(spark: SparkSession, tableDir: String, version: Int,
                pushed: Seq[sources.Filter]): (Seq[String], Int) = {
    val mdf = FooterSchema.read(spark, manifestDir(tableDir, version))
    val statCols = mdf.columns.filter(_.startsWith("min_")).map(_.drop(4))
      .filter(c => mdf.columns.contains(s"max_$c"))
    val hasRowCount = mdf.columns.contains("rowcount")
    val rows = mdf.collect()
    val total = rows.length
    val kept = rows.filter { r =>
      def opt(name: String): Option[Long] =
        if (!mdf.columns.contains(name)) None
        else Option(r.get(r.fieldIndex(name))).map(_.asInstanceOf[Long])
      val stats = statCols.map(c => c.toLowerCase -> ColRange(
        r.get(r.fieldIndex(s"min_$c")), r.get(r.fieldIndex(s"max_$c")),
        opt(s"nullcount_$c"))).toMap
      val rowCount = if (hasRowCount) opt("rowcount") else None
      // a ZERO-ROW file (an empty writer task's part) matches nothing
      rowCount.forall(_ > 0L) && pushed.forall(mayMatch(_, stats, rowCount))
    }.map(_.getString(mdf.columns.indexOf("file"))).toSeq
    (kept, total)
  }

  /** The paths a scan of `version` under `pushed` reads: [[keptFiles]],
    * or the whole version folder when the manifest cannot be read
    * (unpruned planning, always correct) — the manifest is an
    * optimization, never the correctness path. */
  def prunedPaths(spark: SparkSession, tableDir: String, version: Int,
                  pushed: Seq[sources.Filter]): Seq[String] =
    try keptFiles(spark, tableDir, version, pushed)._1
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(ManifestPrune.getClass).warn(
          s"manifest read for $tableDir v=$version failed; serving the " +
            s"FULL version unpruned (delete _manifest/v=$version or " +
            s"rewrite with writeSnapshotWithManifest)", e)
        Seq(s"$tableDir/v=$version")
    }
}
