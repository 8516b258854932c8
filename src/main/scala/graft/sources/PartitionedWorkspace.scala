package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.ProjectingInternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRowLevelOperations, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Hadoop `Configuration` is not `java.io.Serializable`; this is the
  * standard 12-line envelope (the same shape Spark uses internally) so a
  * write-task factory can carry the job conf to executors. */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** One level of a partitioned workspace table's directory layout. Two
  * kinds exist:
  *
  *  - [[IdentityLevel]]: the classic hive `col=value` level. The column
  *    lives in the SCHEMA (canonically last) and in the directory name,
  *    never in the data files.
  *  - [[DaysLevel]]: Iceberg-style HIDDEN partitioning `days(ts)` — the
  *    directory key is the synthetic `<ts>_day=<epochDay>`, derived from a
  *    timestamp/date column that stays a PLAIN DATA COLUMN (stored in the
  *    files, absent from directory semantics). Readers never see the
  *    synthetic column; `ts` predicates prune directories through the
  *    derivation.
  */
private[sources] sealed trait PartLevel extends Serializable {
  /** Directory key (`src` / `ts_day` / `ts_hour` / `ts_month` /
    * `id_bucket`). */
  def pathName: String
  /** Schema column the level derives from. */
  def sourceCol: String
  /** True when the path value IS a schema column (identity). */
  def inSchema: Boolean
  /** Path value of a SOURCE-column literal — handles both catalyst
    * internal representations (runtime V2 filters) and external objects
    * (translated V1 filters). None = unmappable (treat as unconstrained). */
  def valueOfLiteral(v: Any): Option[String]
  /** Can rows inside the directory carrying path value `v` satisfy pushed
    * filter `f` on the SOURCE column? Conservative keep on any shape the
    * level cannot decide. */
  def mayMatch(f: sources.Filter, v: String): Boolean
  /** Do ALL POSSIBLE rows of the directory carrying path value `v`
    * satisfy `f`? Metadata-exact and content-independent (it holds for
    * any row the partition could ever contain) — the zero-copy SQL
    * DELETE routing test (r19). Conservative FALSE on any undecidable
    * shape: false only costs the row-level path, never correctness. */
  def mustMatch(f: sources.Filter, v: String): Boolean = false
  /** The synthetic path column derived from the source column (identity
    * levels pass the column through). Must agree bit-for-bit with
    * [[pathValue]]. */
  def deriveColumn(c: Column): Column
  /** Path value of a row's source field (writer side). */
  def pathValue(t: DataType, r: InternalRow, ord: Int): String
}

private[sources] case class IdentityLevel(col: String) extends PartLevel {
  def pathName: String = col
  def sourceCol: String = col
  def inSchema: Boolean = true
  def valueOfLiteral(v: Any): Option[String] =
    Option(v).map(PartitionedWorkspace.valueString)
  def mayMatch(f: sources.Filter, v: String): Boolean =
    PartitionedWorkspace.identityMayMatch(f, col, v)
  override def mustMatch(f: sources.Filter, v: String): Boolean =
    PartitionedWorkspace.identityMustMatch(f, col, v)
  def deriveColumn(c: Column): Column = c
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case StringType => r.getUTF8String(ord).toString
    case IntegerType => r.getInt(ord).toString
    case LongType => r.getLong(ord).toString
    case tt => throw new IllegalStateException(
      s"unsupported identity partition type $tt")
  }
}

private[sources] case class DaysLevel(col: String, isDate: Boolean)
  extends PartLevel {
  def pathName: String = s"${col}_day"
  def sourceCol: String = col
  def inSchema: Boolean = false
  def valueOfLiteral(v: Any): Option[String] =
    PartitionedWorkspace.epochDay(v, isDate).map(_.toString)
  def mayMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.forall(day =>
      PartitionedWorkspace.dayMayMatch(f, col, day, isDate))
  override def mustMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.exists { day =>
      val unit = if (isDate) 1L else PartitionedWorkspace.MicrosPerDay
      PartitionedWorkspace.spanMustMatch(
        f, col, day * unit, day * unit + unit, isDate)
    }
  def deriveColumn(c: Column): Column =
    PartitionedWorkspace.dayColumn(c, isDate)
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case TimestampType =>
      Math.floorDiv(r.getLong(ord), PartitionedWorkspace.MicrosPerDay).toString
    case DateType => r.getInt(ord).toLong.toString
    case tt => throw new IllegalStateException(s"days() over $tt")
  }
}

/** `hours(ts)` — the high-rate event-table grain (r17): synthetic
  * `<ts>_hour=<epochHour>` directories, timestamp sources only. */
private[sources] case class HoursLevel(col: String) extends PartLevel {
  def pathName: String = s"${col}_hour"
  def sourceCol: String = col
  def inSchema: Boolean = false
  def valueOfLiteral(v: Any): Option[String] =
    PartitionedWorkspace.epochPos(v, isDate = false)
      .map(Math.floorDiv(_, PartitionedWorkspace.MicrosPerHour).toString)
  def mayMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.forall { h =>
      val s = h * PartitionedWorkspace.MicrosPerHour
      PartitionedWorkspace.spanMayMatch(f, col, s,
        s + PartitionedWorkspace.MicrosPerHour, isDate = false)
    }
  override def mustMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.exists { h =>
      val s = h * PartitionedWorkspace.MicrosPerHour
      PartitionedWorkspace.spanMustMatch(f, col, s,
        s + PartitionedWorkspace.MicrosPerHour, isDate = false)
    }
  def deriveColumn(c: Column): Column =
    PartitionedWorkspace.unitColumn(c, PartitionedWorkspace.MicrosPerHour)
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case TimestampType =>
      Math.floorDiv(r.getLong(ord), PartitionedWorkspace.MicrosPerHour).toString
    case tt => throw new IllegalStateException(s"hours() over $tt")
  }
}

/** `key:c` — an IDENTITY-VALUED level whose source column STAYS IN THE
  * DATA FILES (r18): directory key `<c>_key=<value>`, derivation the
  * column itself. What it exists for: the PARTITIONED SNAPSHOT store
  * resolves leaves across version folders by direct file reads (no hive
  * value re-attachment is possible over a cross-version dir list), so its
  * "identity" axis must keep the column physically in the files — unlike
  * the workspace's [[IdentityLevel]], whose values live only in directory
  * names. Composes above one temporal/hash hidden level
  * (`key:src,days:ts`) — the production-lake nesting on versioned data.
  * Storage cost of the duplicated value is ~zero after dictionary/RLE. */
private[sources] case class KeyLevel(col: String) extends PartLevel {
  def pathName: String = s"${col}_key"
  def sourceCol: String = col
  def inSchema: Boolean = false
  def valueOfLiteral(v: Any): Option[String] =
    Option(v).map(PartitionedWorkspace.valueString)
  def mayMatch(f: sources.Filter, v: String): Boolean =
    PartitionedWorkspace.identityMayMatch(f, col, v)
  override def mustMatch(f: sources.Filter, v: String): Boolean =
    PartitionedWorkspace.identityMustMatch(f, col, v)
  def deriveColumn(c: Column): Column = c
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case StringType => r.getUTF8String(ord).toString
    case IntegerType => r.getInt(ord).toString
    case LongType => r.getLong(ord).toString
    case tt => throw new IllegalStateException(
      s"unsupported key partition type $tt")
  }
}

/** `months(ts)` — the long-retention grain (r17): synthetic
  * `<ts>_month=<monthsSinceEpoch>` directories (UTC months — the same
  * fixed-UTC axis the days derivation uses). */
private[sources] case class MonthsLevel(col: String, isDate: Boolean)
  extends PartLevel {
  def pathName: String = s"${col}_month"
  def sourceCol: String = col
  def inSchema: Boolean = false
  def valueOfLiteral(v: Any): Option[String] =
    PartitionedWorkspace.epochDay(v, isDate)
      .map(PartitionedWorkspace.epochMonthOfDay(_).toString)
  def mayMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.forall { m =>
      val unit = if (isDate) 1L else PartitionedWorkspace.MicrosPerDay
      val s = PartitionedWorkspace.monthStartDay(m) * unit
      val e = PartitionedWorkspace.monthStartDay(m + 1) * unit
      PartitionedWorkspace.spanMayMatch(f, col, s, e, isDate)
    }
  override def mustMatch(f: sources.Filter, v: String): Boolean =
    v.toLongOption.exists { m =>
      val unit = if (isDate) 1L else PartitionedWorkspace.MicrosPerDay
      val s = PartitionedWorkspace.monthStartDay(m) * unit
      val e = PartitionedWorkspace.monthStartDay(m + 1) * unit
      PartitionedWorkspace.spanMustMatch(f, col, s, e, isDate)
    }
  def deriveColumn(c: Column): Column = {
    // epochDay (UTC) → a TZ-free DATE → month index; bit-for-bit with
    // [[pathValue]]'s LocalDate math
    val dd = date_from_unix_date(
      PartitionedWorkspace.dayColumn(c, isDate).cast(IntegerType))
    ((year(dd) - lit(1970)) * lit(12) + month(dd) - lit(1)).cast(LongType)
  }
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case TimestampType => PartitionedWorkspace.epochMonthOfDay(
      Math.floorDiv(r.getLong(ord), PartitionedWorkspace.MicrosPerDay)).toString
    case DateType =>
      PartitionedWorkspace.epochMonthOfDay(r.getInt(ord).toLong).toString
    case tt => throw new IllegalStateException(s"months() over $tt")
  }
}

/** `bucket(n, col)` — the hidden hash transform (r17): synthetic
  * `<col>_bucket=<pmod(col, n)>` directories over an int/long key. The
  * math is [[GraftBucketFunction]]'s exactly (`((k % n) + n) % n`), so the
  * scan can report `KeyGroupedPartitioning(bucket(n, col))` and a join of
  * two same-bucketed workspace tables plans with ZERO exchange. */
private[sources] case class BucketLevel(col: String, n: Int) extends PartLevel {
  require(n > 0, "bucket(n, col) needs n > 0")
  def pathName: String = s"${col}_bucket"
  def sourceCol: String = col
  def inSchema: Boolean = false
  private def bucketOf(k: Long): Long = ((k % n) + n) % n
  private def keyOf(v: Any): Option[Long] = v match {
    case null => None
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case b: java.lang.Byte => Some(b.longValue)
    case _ => None
  }
  def valueOfLiteral(v: Any): Option[String] =
    keyOf(v).map(k => bucketOf(k).toString)
  def mayMatch(f: sources.Filter, v: String): Boolean = {
    def ref(x: String) = x.equalsIgnoreCase(col)
    def same(lit: Any): Boolean =
      keyOf(lit).forall(k => bucketOf(k).toString == v)
    f match {
      case sources.And(l, r) => mayMatch(l, v) && mayMatch(r, v)
      case sources.Or(l, r) => mayMatch(l, v) || mayMatch(r, v)
      case sources.EqualTo(x, lit) if ref(x) => same(lit)
      case sources.EqualNullSafe(x, lit) if ref(x) => same(lit)
      case sources.In(x, vs) if ref(x) => vs.isEmpty || vs.exists(same)
      case sources.IsNull(x) if ref(x) => false
      case _ => true // ranges cannot prune a hash layout
    }
  }
  def deriveColumn(c: Column): Column =
    pmod(c.cast(LongType), lit(n.toLong))
  def pathValue(t: DataType, r: InternalRow, ord: Int): String = t match {
    case LongType => bucketOf(r.getLong(ord)).toString
    case IntegerType => bucketOf(r.getInt(ord).toLong).toString
    case tt => throw new IllegalStateException(s"bucket() over $tt")
  }
}

private[sources] object PartitionedWorkspace {
  val MicrosPerDay = 86400000000L
  val MicrosPerHour = 3600000000L

  /** Months between 1970-01 and the month containing epoch day `d`. */
  def epochMonthOfDay(d: Long): Long = {
    val ld = java.time.LocalDate.ofEpochDay(d)
    (ld.getYear - 1970).toLong * 12L + (ld.getMonthValue - 1)
  }

  /** First epoch day of month index `m`. */
  def monthStartDay(m: Long): Long =
    java.time.LocalDate.of(1970, 1, 1).plusMonths(m).toEpochDay

  /** Marker grammar → partition levels (shared by the catalog, the respec
    * and compaction): comma-nested level segments, each an identity column
    * name or one hidden transform — `"a,b"` nested identity, `"days:c"`,
    * `"hours:c"`, `"months:c"`, `"bucket:<n>:<c>"`, and since r18 the
    * standard production-lake MIX `"src,days:ts"` (identity levels over
    * ONE hidden transform, hidden last); `""` flat. Composition rules are
    * [[validateLevels]]'s. */
  def levelsOf(marker: String, declared: StructType): Seq[PartLevel] = {
    def isDate(c: String) = declared(c).dataType == DateType
    if (marker.isEmpty) Nil
    else marker.split(',').toSeq.map(_.trim).map { seg =>
      if (seg.startsWith("days:")) {
        val c = seg.stripPrefix("days:"); DaysLevel(c, isDate(c))
      } else if (seg.startsWith("key:"))
        KeyLevel(seg.stripPrefix("key:"))
      else if (seg.startsWith("hours:"))
        HoursLevel(seg.stripPrefix("hours:"))
      else if (seg.startsWith("months:")) {
        val c = seg.stripPrefix("months:"); MonthsLevel(c, isDate(c))
      } else if (seg.startsWith("bucket:")) {
        val parts = seg.split(':')
        require(parts.length == 3 && parts(1).toIntOption.exists(_ > 0),
          s"bad bucket marker '$seg' (want bucket:<n>:<col>)")
        BucketLevel(parts(2), parts(1).toInt)
      } else IdentityLevel(seg)
    }
  }

  /** The marker text for one hidden level (inverse of [[levelsOf]]). */
  def markerOf(l: PartLevel): String = l match {
    case IdentityLevel(c) => c
    case KeyLevel(c) => s"key:$c"
    case DaysLevel(c, _) => s"days:$c"
    case HoursLevel(c) => s"hours:$c"
    case MonthsLevel(c, _) => s"months:$c"
    case BucketLevel(c, n) => s"bucket:$n:$c"
  }

  /** Source-column type and COMPOSITION validation — shared by the table
    * constructor, CREATE TABLE and the respec. Levels are identity
    * columns optionally nesting ONE hidden transform as the LAST (finest)
    * level: `identity*[, hidden]`. A hidden level above an identity one
    * would bury the hive value re-attachment mid-path for no layout
    * benefit, and two hidden levels of one axis never prune better than
    * the finer one alone. */
  def validateLevels(declared: StructType, levels: Seq[PartLevel]): Unit = {
    // KEY levels are identity-valued (the column rides in the files) —
    // only the TRANSFORM hiddens (days/hours/months/bucket) are capped
    def isTransform(l: PartLevel) =
      !l.inSchema && !l.isInstanceOf[KeyLevel]
    require(levels.count(isTransform) <= 1,
      "at most one hidden transform (days/hours/months/bucket) per table")
    require(levels.dropRight(1).forall(!isTransform(_)),
      "the hidden transform must be the LAST partition level " +
        "(identity/key levels nest above it: 'src,days:ts')")
    require(levels.map(_.sourceCol.toLowerCase).distinct.length ==
        levels.length,
      "duplicate partition source columns")
    levels.foreach { l =>
      val fd = declared.fields.find(_.name.equalsIgnoreCase(l.sourceCol))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column ${l.sourceCol} not in schema"))
      l match {
        case _: KeyLevel => require(
          Seq(StringType, IntegerType, LongType).contains(fd.dataType),
          s"key partition column must be string/int/long, got ${fd.dataType}")
        case _: IdentityLevel => require(
          Seq(StringType, IntegerType, LongType).contains(fd.dataType),
          s"identity partition column must be string/int/long, got ${fd.dataType}")
        case _: DaysLevel | _: MonthsLevel => require(
          fd.dataType == TimestampType || fd.dataType == DateType,
          s"days()/months() need a timestamp/date column, got ${fd.dataType}")
        case _: HoursLevel => require(fd.dataType == TimestampType,
          s"hours() needs a timestamp column, got ${fd.dataType}")
        case _: BucketLevel => require(
          Seq(IntegerType, LongType).contains(fd.dataType),
          s"bucket(n, col) needs an int/bigint column, got ${fd.dataType}")
      }
    }
  }

  /** The extra read-schema column a MIXED layout's partition inference
    * needs: Spark refuses a user schema missing an on-disk partition dir
    * name, so the hidden level's synthetic path column joins the inner
    * schema (as the long the directory values parse to) and the
    * projection drops it — readers never see it. */
  private[sources] def innerReadSchema(declared: StructType,
                                       levels: Seq[PartLevel]): StructType =
    levels.filterNot(_.inSchema).foldLeft(declared)((s, h) =>
      s.add(org.apache.spark.sql.types.StructField(h.pathName, h match {
        case _: KeyLevel => StringType // identity-valued dir fragments
        case _ => LongType // temporal/hash derivations are integral
      })))

  /** Read hive-laid-out `paths` as FULL table rows under any level
    * composition — the one re-attachment rule every V1 read shares:
    *
    *  - identity-only: `basePath` partition discovery re-attaches the
    *    identity values with declared types;
    *  - single hidden: leaf dirs read directly (the source column lives
    *    in the files; no identity value to re-attach);
    *  - MIXED (r18): `basePath` discovery re-attaches identity values AND
    *    parses the synthetic hidden dir through [[innerReadSchema]], which
    *    the final projection drops (metadata — field ids — preserved). */
  private[sources] def readHive(iso: SparkSession, basePath: String,
                                declared: StructType, levels: Seq[PartLevel],
                                paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    if (paths.isEmpty)
      return iso.createDataFrame(
        iso.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
    val hasHidden = levels.exists(!_.inSchema)
    if (!hasHidden)
      iso.read.option("basePath", basePath).schema(declared).parquet(paths: _*)
    else if (levels.length == 1)
      iso.read.schema(declared).parquet(paths: _*)
    else
      iso.read.option("basePath", basePath)
        .schema(innerReadSchema(declared, levels)).parquet(paths: _*)
        .select(declared.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name)
            .as(f.name, f.metadata)): _*)
  }

  /** Partition value → canonical path fragment value (pre-escaping). */
  def valueString(v: Any): String = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => String.valueOf(other)
  }

  def partDirName(partCol: String, v: String): String =
    s"$partCol=${ExternalCatalogUtils.escapePathName(v)}"

  /** Epoch day of a timestamp/date literal in ANY representation Spark
    * hands a connector: catalyst internal (Long micros for timestamps,
    * Int days for dates) or external (java.sql / java.time objects from
    * translated V1 filters). */
  def epochDay(v: Any, isDate: Boolean): Option[Long] = v match {
    case null => None
    case l: java.lang.Long if !isDate => Some(Math.floorDiv(l, MicrosPerDay))
    case i: java.lang.Integer if isDate => Some(i.longValue)
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 86400000L))
    case i: java.time.Instant => Some(Math.floorDiv(i.getEpochSecond, 86400L))
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Derivation column for a days level — INTEGRAL arithmetic end to end:
    * `div` (IntegralDivide, truncate-toward-zero) plus a one-step floor
    * correction for negative non-divisible values, so the derivation
    * agrees bit-for-bit with the writer-side `Math.floorDiv` over the
    * FULL Long range. (`/` is double division; its 2^53 mantissa would
    * round the numerator for extreme timestamps, splitting one logical
    * day across directories; `n - pmod(n, d)` stays integral but wraps
    * for n within d of Long.MinValue.) */
  def dayColumn(c: Column, isDate: Boolean): Column =
    if (isDate) datediff(c, to_date(lit("1970-01-01"))).cast(LongType)
    else unitColumn(c, MicrosPerDay)

  /** floorDiv(unix_micros(c), unit) as a Column — integral end to end
    * (see [[dayColumn]]'s scaladoc for why `/` and `pmod` both fail at
    * the Long extremes). */
  def unitColumn(c: Column, unit: Long): Column = {
    val n = unix_micros(c)
    val q = call_function("div", n, lit(unit))
    when(q * lit(unit) > n, q - lit(1L)).otherwise(q)
  }

  /** Position of a temporal literal on the level's axis: MICROSECONDS
    * since epoch for timestamps, DAYS for dates — in any representation
    * Spark hands a connector. */
  private[sources] def epochPos(v: Any, isDate: Boolean): Option[Long] = v match {
    case null => None
    case t: java.sql.Timestamp if !isDate =>
      val i = t.toInstant
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case i: java.time.Instant if !isDate =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case l: java.lang.Long if !isDate => Some(l)
    case d: java.sql.Date if isDate => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate if isDate => Some(d.toEpochDay)
    case i: java.lang.Integer if isDate => Some(i.longValue)
    case _ => None
  }

  /** Can a row inside day-directory `day` satisfy `f` (a pushed filter on
    * the level's SOURCE column)? The directory covers axis positions in
    * `[day*unit, (day+1)*unit)` — EXACT interval tests, so a midnight
    * boundary (`ts < '…-04 00:00:00'`) prunes the boundary day. Unknown
    * shapes keep the directory. */
  def dayMayMatch(f: sources.Filter, srcCol: String, day: Long,
                  isDate: Boolean): Boolean = {
    val unit = if (isDate) 1L else MicrosPerDay
    spanMayMatch(f, srcCol, day * unit, day * unit + unit, isDate)
  }

  /** Can a row inside a directory covering axis positions `[s, e)` satisfy
    * `f`? The generalized interval test behind days/hours/months pruning. */
  def spanMayMatch(f: sources.Filter, srcCol: String, s: Long, e: Long,
                   isDate: Boolean): Boolean = {
    def pos(v: Any): Option[Long] = epochPos(v, isDate)
    def ref(c: String): Boolean = c.equalsIgnoreCase(srcCol)
    f match {
      case sources.And(l, r) =>
        spanMayMatch(l, srcCol, s, e, isDate) && spanMayMatch(r, srcCol, s, e, isDate)
      case sources.Or(l, r) =>
        spanMayMatch(l, srcCol, s, e, isDate) || spanMayMatch(r, srcCol, s, e, isDate)
      case sources.EqualTo(c, v) if ref(c) =>
        pos(v).forall(x => x >= s && x < e)
      case sources.GreaterThan(c, v) if ref(c) => pos(v).forall(e - 1 > _)
      case sources.GreaterThanOrEqual(c, v) if ref(c) => pos(v).forall(e - 1 >= _)
      case sources.LessThan(c, v) if ref(c) => pos(v).forall(s < _)
      case sources.LessThanOrEqual(c, v) if ref(c) => pos(v).forall(s <= _)
      case sources.In(c, vs) if ref(c) =>
        vs.isEmpty || vs.exists(v => pos(v).forall(x => x >= s && x < e))
      case _ => true
    }
  }

  /** Do ALL axis positions in `[s, e)` satisfy `f`? The dual of
    * [[spanMayMatch]] (r19, the zero-copy DELETE routing): decidable
    * comparisons prove full coverage (`ts < T` with `e <= T`, etc.);
    * anything undecidable — including an unmappable literal — returns
    * FALSE (the caller falls back to the row-level path). Filters on
    * OTHER columns also return false: this asks "does the directory's
    * axis alone guarantee the predicate", nothing weaker. */
  def spanMustMatch(f: sources.Filter, srcCol: String, s: Long, e: Long,
                    isDate: Boolean): Boolean = {
    def pos(v: Any): Option[Long] = epochPos(v, isDate)
    def ref(c: String): Boolean = c.equalsIgnoreCase(srcCol)
    f match {
      case sources.And(l, r) =>
        spanMustMatch(l, srcCol, s, e, isDate) &&
          spanMustMatch(r, srcCol, s, e, isDate)
      case sources.Or(l, r) =>
        spanMustMatch(l, srcCol, s, e, isDate) ||
          spanMustMatch(r, srcCol, s, e, isDate)
      case sources.EqualTo(c, v) if ref(c) =>
        e - s == 1 && pos(v).exists(_ == s)
      case sources.GreaterThan(c, v) if ref(c) => pos(v).exists(_ < s)
      case sources.GreaterThanOrEqual(c, v) if ref(c) => pos(v).exists(_ <= s)
      case sources.LessThan(c, v) if ref(c) => pos(v).exists(_ >= e)
      case sources.LessThanOrEqual(c, v) if ref(c) => pos(v).exists(_ >= e - 1)
      case sources.In(c, vs) if ref(c) =>
        e - s == 1 && vs.exists(v => pos(v).exists(_ == s))
      case sources.IsNotNull(c) if ref(c) => true // NULL keys rejected at write
      case _ => false
    }
  }

  /** Do ALL rows whose identity/key column `c` carries path value `v`
    * satisfy `f`? The identity dual of [[identityMayMatch]] (r19). */
  def identityMustMatch(f: sources.Filter, c: String, v: String): Boolean = {
    def ref(x: String) = x.equalsIgnoreCase(c)
    def same(lit: Any): Boolean = lit != null && valueString(lit) == v
    f match {
      case sources.And(l, r) =>
        identityMustMatch(l, c, v) && identityMustMatch(r, c, v)
      case sources.Or(l, r) =>
        identityMustMatch(l, c, v) || identityMustMatch(r, c, v)
      case sources.EqualTo(x, lit) if ref(x) => same(lit)
      case sources.EqualNullSafe(x, lit) if ref(x) => same(lit)
      case sources.In(x, vs) if ref(x) => vs.exists(same)
      case sources.IsNotNull(x) if ref(x) => true // NULL keys rejected at write
      case _ => false
    }
  }

  /** Can a row whose IDENTITY column `c` carries path value `v` satisfy
    * `f`? EqualTo / EqualNullSafe / In on `c` decide by the canonical
    * value string (the same [[valueString]] the writer used for the
    * directory name); And/Or recurse; IS NULL never matches (partitioned
    * tables reject NULL partition keys at write); any other shape keeps
    * the leaf — conservative, like [[dayMayMatch]]. */
  def identityMayMatch(f: sources.Filter, c: String, v: String): Boolean = {
    def ref(x: String) = x.equalsIgnoreCase(c)
    def same(lit: Any): Boolean = lit != null && valueString(lit) == v
    f match {
      case sources.And(l, r) =>
        identityMayMatch(l, c, v) && identityMayMatch(r, c, v)
      case sources.Or(l, r) =>
        identityMayMatch(l, c, v) || identityMayMatch(r, c, v)
      case sources.EqualTo(x, lit) if ref(x) => same(lit)
      case sources.EqualNullSafe(x, lit) if ref(x) => same(lit)
      case sources.In(x, vs) if ref(x) => vs.exists(same)
      case sources.IsNull(x) if ref(x) => false
      case _ => true
    }
  }

  /** Extract the per-level value sets a runtime group filter pins: each
    * translated V2 runtime filter arrives as `sourceCol IN (v1..vn)` (or a
    * single `=`); values map onto PATH values through the level's
    * derivation. A level with no parseable constraint is unconstrained;
    * None = NO level constrained (the scan keeps every partition, which is
    * always CORRECT — just not minimal). */
  def predicateValues(predicates: Array[Predicate],
                      levels: Seq[PartLevel]): Option[Map[String, Seq[String]]] = {
    def refOf(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val perLevel = levels.flatMap { lvl =>
      val sets = predicates.toSeq.flatMap { p =>
        val ch = p.children()
        p.name() match {
          case "IN" if ch.nonEmpty &&
              refOf(ch.head).exists(_.equalsIgnoreCase(lvl.sourceCol)) &&
              ch.tail.forall(_.isInstanceOf[Literal[_]]) =>
            val vs = ch.tail.map(l => lvl.valueOfLiteral(
              l.asInstanceOf[Literal[_]].value))
            // one unmappable literal poisons the whole set (an unknown
            // member could pin anything) — drop the constraint
            if (vs.contains(None)) None else Some(vs.flatten.toSeq.distinct)
          case "=" if ch.length == 2 &&
              refOf(ch(0)).exists(_.equalsIgnoreCase(lvl.sourceCol)) &&
              ch(1).isInstanceOf[Literal[_]] =>
            lvl.valueOfLiteral(ch(1).asInstanceOf[Literal[_]].value)
              .map(Seq(_))
          case _ => None
        }
      }
      if (sets.isEmpty) None
      else Some(lvl.pathName -> sets.reduce((a, b) => a.intersect(b)).distinct)
    }.toMap
    if (perLevel.isEmpty) None else Some(perLevel)
  }
}

/** A PARTITIONED workspace table — hive layout
  * `<dir>/<k1>=<v1>/.../<kn>=<vn>/files`. Levels are either IDENTITY
  * columns (string/int/long, stored in the directory name, canonically
  * LAST in the schema, never in data files) or ONE hidden `days(ts)`
  * transform ([[DaysLevel]]: synthetic `<ts>_day=<epochDay>` directories
  * derived from a timestamp/date column that stays in the files). What
  * the layout buys at 100 TB over the flat [[GraftWorkspaceTable]]:
  *
  *  - READS partition-prune: identity levels through Spark's own
  *    `PartitioningAwareFileIndex`; the hidden days level through a
  *    driver-side directory-range prune of `ts` predicates
  *    ([[org.apache.spark.sql.graftbridge.PrunedParquetScanBuilder]]) —
  *    either way a date-clamped scan opens only the matching directories.
  *  - ROW-LEVEL DML is PARTITION-GRAINED, not table-grained: the COW
  *    operation's scan implements `SupportsRuntimeV2Filtering` on the
  *    levels' source columns, so Spark's own
  *    `RowLevelOperationRuntimeGroupFiltering` runs the group-filter
  *    subquery (matched partitions of the command's condition) and the
  *    rewrite reads, rewrites and republishes ONLY those directories —
  *    every other partition's files keep their mtimes (spec-pinned).
  *  - translatable `DELETE` takes a direct per-partition rewrite.
  *  - `INSERT INTO` appends hive-partitioned via the V1 write path
  *    (Spark's own dynamic-partition writer; the days level derives its
  *    synthetic path column in the write projection).
  *
  * PUBLISH is crash-safe by rename ordering: read partitions RETIRE BY
  * RENAME into a dot-prefixed `.retired_<tag>/` parking root (invisible to
  * the file index), staged replacements move in, retired copies delete
  * LAST — at no instant does only one copy of a partition's rows exist in
  * a destroyable place, and [[repairRetiredPartitions]] (run on catalog
  * load and before every publish) restores pre-statement content after a
  * crash. Statement-level atomicity across partitions stays the honest
  * single-writer contract. ALTER TABLE is ADD COLUMN only (metadata-only;
  * identity columns stay last, the canonical hive order). */
private[sources] class PartitionedWorkspaceTable(
    tableName: String,
    spark: SparkSession,
    dir: String,
    declaredFull: StructType,
    val levels: Seq[PartLevel])
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SupportsDelete with SupportsRowLevelOperations {

  require(levels.nonEmpty, "at least one partition level")
  // composition (identity* nesting at most one hidden transform, hidden
  // LAST — the r18 mixed grammar) is validateLevels' rule below

  private[sources] val identityCols: Seq[String] =
    levels.collect { case IdentityLevel(c) => c }

  /** True when the layout carries a HIDDEN (derived) level — reads then
    * go through leaf-directory path lists, never hive inference (the
    * synthetic path key is not a schema column). */
  private[sources] def hasHidden: Boolean = levels.exists(!_.inSchema)

  // identity: canonical hive order (partition columns LAST, declaration
  // order); per-kind source-type rules in validateLevels.
  if (identityCols.nonEmpty)
    require(declaredFull.fieldNames.takeRight(identityCols.length).toSeq ==
        identityCols,
      s"declared schema must keep partition columns ${identityCols.mkString(",")} " +
        "last, in partition order (canonical hive order)")
  PartitionedWorkspace.validateLevels(declaredFull, levels)

  private[sources] def tableDir: String = dir

  /** V1 reads (the DELETE discovery/survivor scans and [[readFull]]) must
    * resolve columns by parquet FIELD ID, like every DSv2 scan of this
    * table does ([[newScanBuilder]] merges the option): a metadata-only
    * RENAME or DROP+re-ADD otherwise matches old files by NAME —
    * null-filling renamed columns and resurrecting dropped bytes.
    * DataFrameReader options cannot set this key (it is read from SQLConf),
    * so the reads run on an isolated session (cloned runtime conf, same
    * context/catalog — the flat-table deleteWhere precedent). */
  private lazy val idSpark: SparkSession = ColumnIds.readSession(spark)

  /** Data-file schema: declared minus the IDENTITY columns (hive layout
    * stores those in directory names; a copy inside the file would be a
    * duplicate-column read error). A days level's source column STAYS — it
    * is a plain data column. */
  private[sources] def fileSchema: StructType =
    StructType(declaredFull.fields.filterNot(f => identityCols.contains(f.name)))

  private[sources] def declaredSchemaFull: StructType = declaredFull

  override def name(): String = tableName
  override def schema(): StructType = declaredFull
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    levels.map {
      case IdentityLevel(c) => Expressions.identity(c)
      case KeyLevel(c) => Expressions.identity(c)
      case DaysLevel(c, _) => Expressions.days(c)
      case HoursLevel(c) => Expressions.hours(c)
      case MonthsLevel(c, _) => Expressions.months(c)
      case BucketLevel(c, n) => Expressions.bucket(n, c)
    }.toArray

  /** COMPOSITION, not inheritance, deliberately: Spark's
    * `FallBackFileSourceV2` rule rewrites INSERT on any `FileTable` into a
    * V1 flat-directory insert — which would write root-level files and
    * corrupt the hive layout. A plain `Table` keeps INSERT on the V2 path,
    * where [[newWriteBuilder]]'s `V1Write` runs Spark's own partitioned
    * writer; READS still delegate to a genuine `ParquetTable` scan builder
    * (full pushdown, pruning, vectorization). */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = ColumnIds.withReadOption(options)
    if (!hasHidden)
      ParquetTable(tableName, spark, opts, Seq(dir), Some(declaredFull),
        classOf[ParquetFileFormat]).newScanBuilder(opts)
    else if (levels.length > 1) {
      // MIXED identity + hidden layout (r18): prune leaf dirs through
      // EVERY level's mayMatch (source + date predicates each drop whole
      // directories), then serve with basePath partition discovery so the
      // identity values re-attach; the synthetic hidden dir rides the
      // inner read schema, which column pruning never requests (Spark
      // prunes to the TABLE schema — the synthetic column is not in it)
      val withBase = new java.util.HashMap[String, String](
        opts.asCaseSensitiveMap())
      withBase.put("basePath", dir): Unit
      val baseOpts = new CaseInsensitiveStringMap(withBase)
      new org.apache.spark.sql.graftbridge.PrunedParquetScanBuilder(
        tableName, spark,
        PartitionedWorkspace.innerReadSchema(declaredFull, levels), baseOpts,
        filters => PartitionManifest.prunedPaths(spark, dir,
          leafDirsWithValues().collect {
            case (path, vals) if levels.zip(vals).forall { case (l, v) =>
                filters.forall(l.mayMatch(_, v)) } =>
              path
          }, filters))
    }
    else levels.head match {
      case bl: BucketLevel =>
        // bucket layout: a KEY-GROUPED reporting scan — one tagged split
        // group per bucket directory, reporting
        // KeyGroupedPartitioning(bucket(n, key)) so two same-bucketed
        // workspace tables join with ZERO exchange (the catalog serves the
        // bucket function; spark.sql.sources.v2.bucketing.enabled gates
        // the planner side). Pushed filters still prune whole bucket
        // directories through the hash (EqualTo/In on the key); they are
        // all kept residual, so correctness never rides the prune.
        new BucketScanBuilder(spark, tableName, bucketLeafDirs(), bl,
          declaredFull, opts)((kept, required) => Seq(required -> kept))
      case hidden =>
        // hidden temporal level (days/hours/months): serve the LEAF
        // directories directly (no hive inference — the synthetic key is
        // not a schema column), pruned by the pushed source-column
        // predicates through the level's derivation. A table opted into
        // per-leaf file manifests (.stats_cols) then prunes FILES inside
        // each surviving directory too — the second skipping ring (a
        // year-partitioned table with 1k files/day must not footer-sweep
        // every matched day); any stale/absent/unreadable leaf manifest
        // serves that directory unpruned.
        new org.apache.spark.sql.graftbridge.PrunedParquetScanBuilder(
          tableName, spark, declaredFull, opts,
          filters => PartitionManifest.prunedPaths(spark, dir,
            leafDirsWithValues().collect {
              case (path, Seq(v)) if filters.forall(hidden.mayMatch(_, v)) =>
                path
            }, filters))
    }
  }

  /** The bucket layout's existing leaf directories as (bucket, path). A
    * non-numeric directory value is CORRUPTION, never silently skipped —
    * skipping would drop its rows from every read. */
  private def bucketLeafDirs(): Seq[(Int, String)] =
    leafDirsWithValues().map { case (path, vals) =>
      vals.head.toIntOption.getOrElse(throw new IllegalStateException(
        s"$tableName: non-numeric bucket directory value '${vals.head}' " +
          s"under $dir — the bucket layout is corrupt")) -> path
    }.sortBy(_._1)

  /** Full-table DataFrame: identity layouts through the V1 reader (user
    * schema ⇒ exact partition-column types; hive dirs ⇒ pruning on
    * filters); hidden layouts read the leaf directories (source column is
    * in the files). */
  private[sources] def readFull(): DataFrame =
    if (!hasHidden) idSpark.read.schema(declaredFull).parquet(dir)
    else PartitionedWorkspace.readHive(idSpark, dir, declaredFull, levels,
      leafDirsWithValues().map(_._1))

  /** Relative leaf paths present in a staging dir (the statement's WRITE
    * set — for publish-time claim acquisition). */
  /** Read the table rows of a subset of RELATIVE leaf paths. */
  private[sources] def readRelLeaves(rels: Seq[String]): DataFrame =
    readLeaves(rels.map(r => s"$dir/$r"))

  /** A STAGING dir's rows as table rows (identity values re-attached from
    * the staged directory names) — the post-image of an uncommitted COW
    * statement, for the change feed's pre/post diff. */
  private[sources] def readStagedLeaves(staging: Path): DataFrame = {
    val f = MetaFs.fs(spark, staging)
    val leaves =
      if (!f.exists(staging)) Nil
      else walkLeaves(staging, f).map(_._1)
    PartitionedWorkspace.readHive(
      idSpark, staging.toString, declaredFull, levels, leaves)
  }

  private[sources] def stagedRels(staging: Path): Seq[String] = {
    val f = MetaFs.fs(spark, staging)
    if (!f.exists(staging)) Nil
    else walkLeaves(staging, f).map { case (_, vals) => relOf(vals) }
  }

  private[sources] def stagingPath(): Path = {
    val real = new Path(dir)
    new Path(real.getParent,
      s".${real.getName}.__cow_${java.util.UUID.randomUUID().toString.take(8)}")
  }

  private[sources] def dropStaging(staging: Path): Unit = {
    val f = MetaFs.fs(spark, staging)
    if (f.exists(staging)) f.delete(staging, true): Unit
  }

  /** All existing LEAF partition directories under `root`, as
    * (absolute path, unescaped value per level). */
  private def walkLeaves(root: Path, f: FileSystem):
      Seq[(String, Seq[String])] = {
    def descend(base: Path, lvl: Int, acc: Seq[String]): Seq[(String, Seq[String])] =
      if (lvl == levels.length) Seq((base.toString, acc))
      else if (!f.exists(base)) Nil
      else f.listStatus(base).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"${levels(lvl).pathName}="))
        .flatMap { st =>
          val v = ExternalCatalogUtils.unescapePathName(
            st.getPath.getName.substring(levels(lvl).pathName.length + 1))
          descend(st.getPath, lvl + 1, acc :+ v)
        }
    descend(root, 0, Nil)
  }

  private[sources] def leafDirsWithValues(): Seq[(String, Seq[String])] = {
    val root = new Path(dir)
    walkLeaves(root, MetaFs.fs(spark, root))
  }

  /** Relative leaf path of one value tuple (`a=1/b=x`). */
  private[sources] def relOf(values: Seq[String]): String =
    levels.zip(values).map { case (l, v) =>
      PartitionedWorkspace.partDirName(l.pathName, v)
    }.mkString("/")

  /** Existing leaf directories matching the pinned per-level value sets
    * (an unconstrained level matches every existing value). Returns
    * RELATIVE paths. */
  private[sources] def matchingRels(pinned: Map[String, Seq[String]]): Seq[String] =
    leafDirsWithValues().collect {
      case (_, vals) if levels.zip(vals).forall { case (l, v) =>
          pinned.get(l.pathName).forall(_.contains(v)) } =>
        relOf(vals)
    }

  /** Retired-partition parking root for one publish: a DOT-PREFIXED child
    * of the table dir (invisible to Spark's file index); retired leaves
    * keep their RELATIVE paths under it so [[repairRetiredPartitions]] can
    * map them back. */
  private def retiredRoot(tag: String): Path =
    new Path(dir, s".retired_$tag")

  /** Crash recovery for the rename-based publish: a leaf parked under
    * `.retired_*` whose original directory is MISSING marks a crash
    * between retire and publish — rename it back (that partition reads
    * its pre-statement content again). One whose original EXISTS marks a
    * crash after the staged replacement moved in — that partition's
    * replacement is live and the parked copy is stale, delete it. Repair
    * therefore converges each PARTITION independently (the honest
    * per-partition grain of the rename protocol; a crash midway through a
    * multi-partition statement can leave some partitions post- and some
    * pre-statement, exactly like the documented single-writer contract).
    * Idempotent.
    *
    * LOCK DISCIPLINE (the correctness core): parked copies exist
    * transiently DURING a live publish, and an unlocked load-time repair
    * racing it would restore a partition the publisher just retired —
    * the publisher's staged move would then APPEND next to the restored
    * originals, duplicating every row. So the load-time path
    * ([[repairRetiredPartitionsSafe]]) only repairs under the table's DML
    * lock (non-blocking; debris of a CRASHED statement becomes repairable
    * once its lock ages past the grace), while the publish/delete paths
    * call [[repairRetiredPartitions]] directly — they already hold the
    * statement lock. */
  private[sources] def repairRetiredPartitions(): Unit = {
    val root = new Path(dir)
    val f = MetaFs.fs(spark, root)
    if (!f.exists(root)) return
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".retired_"))
      .foreach { st =>
        var restored = false
        walkLeaves(st.getPath, f).foreach { case (leafPath, vals) =>
          val dest = new Path(dir, relOf(vals))
          if (!f.exists(dest)) {
            f.mkdirs(dest.getParent): Unit
            if (!f.rename(new Path(leafPath), dest))
              throw new IllegalStateException(
                s"partition repair: could not restore $leafPath to $dest")
            restored = true
          }
        }
        // feed adjudication from the park's `_feed` marker (r19, VERDICT
        // r18 #5 — the publish-vs-journal crash window): the statement
        // FULLY published iff no parked leaf needed restoring AND its
        // staging dir holds no undelivered leaf data — in that state the
        // crash fell between the last leaf rename and the feed journal,
        // so journal the staged entry for repairPending to land exactly
        // once. Any other state means the statement did not fully land:
        // its feed must never be fabricated, so the staged rows are
        // dropped here (deterministically, not age-gated — the park
        // debris proves the statement is dead, and this pass runs under
        // the table's DML lock).
        MetaFs.read(spark, new Path(st.getPath, "_feed")).foreach { txt =>
          val lines = txt.split('\n')
          if (lines.length >= 2) {
            val feedStaged = new Path(
              PartitionChangeFeed.feedRoot(dir), lines(0).trim)
            val stagingP = new Path(root.getParent, lines(1).trim)
            def stagedLeafData: Boolean = f.exists(stagingP) && {
              def any(p: Path): Boolean = f.listStatus(p).exists { c =>
                if (c.isDirectory) any(c.getPath)
                else c.getPath.getName.endsWith(".parquet")
              }
              any(stagingP)
            }
            if (f.exists(feedStaged)) {
              if (!restored && !stagedLeafData)
                PartitionChangeFeed.journalPublished(
                  spark, dir, Some(feedStaged))
              else f.delete(feedStaged, true): Unit
            }
            // the adjudicated statement is dead (its park debris proves
            // it, and this pass holds the DML lock): its staging dir is
            // pure debris now — clear it instead of waiting for the
            // age-gated janitor
            if (f.exists(stagingP)) f.delete(stagingP, true): Unit
          }
        }
        // anything left under the root is stale copies (originals exist)
        f.delete(st.getPath, true): Unit
      }
    // feed-entry repair rides the same locked pass (r18): land any
    // journaled-but-unrenamed change entries exactly once, age out
    // journal-less staging debris (see PartitionChangeFeed.repairPending)
    PartitionChangeFeed.repairPending(spark, dir)
  }

  /** [[repairRetiredPartitions]] for paths that do NOT already hold the
    * table's DML lock (catalog load): a no-op when no parked debris
    * exists (one listing), otherwise repairs under a freshly acquired
    * lock — and SKIPS silently when the lock is held, because parked
    * copies under a live lock are an in-flight publish, not a crash. */
  private[sources] def repairRetiredPartitionsSafe(): Unit = {
    val root = new Path(dir)
    val f = MetaFs.fs(spark, root)
    if (!f.exists(root)) return
    val debris = f.listStatus(root).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(".retired_"))
    // a publish-vs-feed-rename crash leaves NO parked debris — only the
    // feed journal; it still needs the locked repair pass (r18)
    if (!debris && !PartitionChangeFeed.hasPending(spark, dir)) return
    val lock =
      try WorkspaceDmlLock.acquire(spark, dir)
      catch { case _: java.util.ConcurrentModificationException => return }
    try repairRetiredPartitions()
    finally WorkspaceDmlLock.release(spark, lock)
  }

  /** Partition-grained publish: retire the partitions the operation READ
    * (its groups), then move every staged partition directory in — a
    * staged dir for an unread partition (MERGE INSERT rows, an UPDATE
    * moving rows across partitions) APPENDS its files instead (file names
    * are task-unique). Untouched partitions are never listed, never
    * opened, never re-stamped.
    *
    * Crash-safe by construction: retirement is a RENAME into the parking
    * root (never a delete), the staged replacements move in, and the
    * retired copies delete LAST. Any failure past the first retire leaves
    * BOTH the staging directory and the parked copies on disk;
    * [[repairRetiredPartitions]] restores the pre-statement table on the
    * next load. `readRels == Some(Nil)` (the runtime group filter matched
    * NO partitions) retires nothing — staged directories, if any, are
    * MERGE INSERT rows for a zero-match target and still append. */
  private[sources] def publishPartitioned(staging: Path,
                                          readRels: Option[Seq[String]],
                                          feedStaged: Option[Path] = None): Unit = {
    val f = MetaFs.fs(spark, staging)
    // heartbeat before any leaf is parked: the statement's SCAN may have
    // outlived the lock grace, and a stale-broken lock during the rename
    // window would let a load-time repair restore retired partitions
    WorkspaceDmlLock.refresh(spark, dir)
    repairRetiredPartitions()
    // per-leaf file manifests (opt-in): stamp each STAGED leaf's manifest
    // from its footers BEFORE anything retires — the manifest then rides
    // the same rename that publishes the leaf (crash-atomic with its
    // data), and a failure here aborts the statement with the table
    // untouched. O(staged files) metadata reads, zero data pages.
    val statsColsOpt = PartitionManifest.statsCols(spark, dir)
    if (f.exists(staging)) statsColsOpt.foreach { cols =>
      walkLeaves(staging, f).foreach { case (leafPath, _) =>
        PartitionManifest.writeLeafManifest(
          spark, new Path(leafPath), fileSchema, cols)
      }
    }
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val park = retiredRoot(tag)
    // feed-bearing statements stamp a `_feed` marker into the park root
    // BEFORE anything retires (r19, VERDICT r18 #5): it names the staged
    // feed entry and this statement's staging dir, so a crash in the
    // window between the LAST leaf rename and the journal write below is
    // no longer unprovable — the locked repair re-derives "did this
    // statement fully publish?" from the park's own state (no leaf
    // restored + no staged leaf data left) and lands the feed entry
    // instead of age-gating it away. The park root deletes with the
    // marker on every completed publish.
    // COMPLETE-OR-ABSENT: a torn marker naming a garbled staging dir
    // would make the repair judge "no staged leaf data left" vacuously
    // true and fabricate a feed entry for a statement that never
    // published; an absent marker only costs the age-gate fallback
    feedStaged.foreach(fp => MetaFs.replace(spark, new Path(park, "_feed"),
      s"${fp.getName}\n${staging.getName}"))
    val toRetire = (readRels match {
      case Some(rels) => rels
      case None => leafDirsWithValues().map { case (_, vals) => relOf(vals) }
    }).filter(rel => f.exists(new Path(dir, rel)))
    toRetire.foreach { rel =>
      val aside = new Path(park, rel)
      f.mkdirs(aside.getParent): Unit
      if (!f.rename(new Path(dir, rel), aside))
        throw new IllegalStateException(
          s"partitioned DML commit: could not retire $rel (table intact; " +
            s"staging left at $staging)")
    }
    if (f.exists(staging)) walkLeaves(staging, f).foreach { case (leafPath, vals) =>
      val dest = new Path(dir, relOf(vals))
      if (!f.exists(dest)) {
        f.mkdirs(dest.getParent): Unit
        if (!f.rename(new Path(leafPath), dest))
          throw new IllegalStateException(
            s"partitioned DML commit: could not publish $leafPath — " +
              s"staging and retired copies left for recovery")
      } else {
        f.listStatus(new Path(leafPath)).foreach { file =>
          // the staged leaf's own manifest must NOT move in (the dest
          // already exists — an unread partition receiving MERGE INSERT
          // appends — so the staged manifest describes only the appended
          // files, and a name collision would abort the publish midway)
          if (file.getPath.getName == PartitionManifest.FileName ||
              file.getPath.getName.startsWith("._manifest"))
            f.delete(file.getPath, false): Unit
          else if (!f.rename(file.getPath, new Path(dest, file.getPath.getName)))
            throw new IllegalStateException(
              s"partitioned DML commit: could not move ${file.getPath} — " +
                s"staging and retired copies left for recovery")
        }
        // the dest's old manifest is now stale (it misses the appended
        // files — the freshness check would serve the leaf unpruned);
        // rebuild it from footers, NON-FATAL: the appended rows are live,
        // a manifest failure only costs pruning on this leaf
        statsColsOpt.foreach { cols =>
          try PartitionManifest.writeLeafManifest(spark, dest, fileSchema, cols)
          catch {
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"leaf manifest rebuild failed for $dest; the leaf serves " +
                  "unpruned until the next republish", e)
          }
        }
      }
    }
    // point of no return passed: every staged partition is live. The
    // feed JOURNAL lands exactly here (r18) — after the statement is
    // fully published, before the parked pre-image copies delete — so a
    // crash between this publish and the feed rename is repairable
    // (PartitionChangeFeed.repairPending lands the entry exactly once)
    feedStaged.foreach(fp =>
      PartitionChangeFeed.journalPublished(spark, dir, Some(fp)))
    // retired copies and staging scaffolding delete last (a failure here
    // leaves only ignorable debris that repair/janitors clear)
    if (f.exists(park)) f.delete(park, true): Unit
    f.delete(staging, true): Unit
    spark.catalog.refreshByPath(dir)
  }

  // ---- INSERT (V1 write fallback: Spark's own partitioned writer) ---------

  /** Path column expressions per level for a WRITE projection: identity
    * columns pass through (null-rejected); a days level derives its
    * synthetic column (null-rejected — a NULL key has no directory). */
  private def writePathCols(data: DataFrame): (DataFrame, Seq[String]) = {
    var out = data
    val names = levels.map {
      case IdentityLevel(c) => c
      case hidden =>
        val c = hidden.sourceCol
        // NullType error branch unifies with any derived type (key:
        // levels derive non-integral columns)
        out = out.withColumn(hidden.pathName,
          when(col(c).isNull, raise_error(lit(
            s"INSERT into partitioned table: NULL in partition source $c")))
            .otherwise(hidden.deriveColumn(col(c))))
        hidden.pathName
    }
    (out, names)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        require(filters.forall(_.isInstanceOf[sources.AlwaysTrue]),
          "partitioned workspace tables support full INSERT OVERWRITE only " +
            "(static mode); partition-grained replacement is the DML path")
        overwriteAll = true; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // declared order with declared field-id metadata re-stamped
              // onto every written file. NULL partition values are rejected
              // IN the write pass: Spark would land them in a
              // __HIVE_DEFAULT_PARTITION__ dir the DML paths can neither
              // match nor rewrite.
              val cols = declaredFull.fields.map { fd =>
                val c =
                  if (identityCols.contains(fd.name))
                    when(col(fd.name).isNull, raise_error(lit(
                      s"INSERT into partitioned table: NULL in partition " +
                        s"column ${fd.name}")).cast(fd.dataType))
                      .otherwise(col(fd.name))
                  else col(fd.name)
                c.as(fd.name, fd.metadata)
              }
              val selected = data.select(cols.toIndexedSeq: _*)
              val (shaped, pathNames) = writePathCols(selected)
              val mode = if (overwrite || overwriteAll) "overwrite" else "append"
              // hash-distribute by the partition path columns before the
              // fan-out write (Iceberg's write.distribution-mode=hash, the
              // stageLayoutWrite discipline): without it ONE input task
              // writes every touched leaf serially — q235's INSERT spent
              // 2.7 s in a single task opening ~150 leaf writers — and at
              // scale M tasks × L leaves explode into M·L small files.
              // After: leaves spread across tasks, one file per leaf per
              // statement. Parallelism across (not within) leaves; a
              // pathological single-leaf batch degrades to today's single
              // writer, no worse. The partition count is EXPLICIT
              // (cluster width): with no count, AQE's byte-based advisory
              // coalesces a small batch back to ONE task and the leaf
              // writers re-serialize — the cost here is file creations
              // per task, which the byte advisory cannot see.
              def write(): Unit = graft.operators.Sinks
                .microsBound(shaped.repartition(
                  spark.sparkContext.defaultParallelism, pathNames.map(col): _*))
                .write.partitionBy(pathNames: _*).mode(mode).parquet(dir)
              if (mode == "overwrite") {
                // whole-table rewrite: fence like the other whole-table
                // ops — never clobber a claim-holding statement's leaves
                // (bounded wait for claims to drain, r17). Plain INSERT
                // keeps the lockless append contract (task-unique files).
                WorkspaceDmlLock.withLockNoClaims(spark, dir) { write() }
                // a rewrite has no change grain — record the discontinuity
                if (PartitionChangeFeed.enabled(spark, dir))
                  PartitionChangeFeed.markRewrite(spark, dir)
              } else if (!PartitionChangeFeed.enabled(spark, dir)) write()
              else {
                // change feed (opt-in): the appended rows ARE the change
                // set — and the insert query executes exactly ONCE, into
                // the staged feed entry; the TABLE append then COPIES the
                // staged rows (a non-deterministic source feeds exactly
                // what lands, and a self-referencing INSERT ... SELECT
                // FROM t reads t once, before any append). A staging
                // failure aborts the statement with the table untouched;
                // the feed entry renames in strictly AFTER the append
                // (the documented landing-crash window), non-fatally.
                val staged = PartitionChangeFeed.stage(spark, dir,
                  PartitionChangeFeed.tagged(selected, "insert"))
                staged.foreach { tmp =>
                  val stagedRows = spark.read.schema(
                    PartitionChangeFeed.feedSchema(spark, dir, declaredFull))
                    .parquet(tmp.toString)
                    .drop(PartitionChangeFeed.ChangeCol)
                  val (shaped2, names2) = writePathCols(stagedRows)
                  try graft.operators.Sinks
                    .microsBound(shaped2.repartition(
                      spark.sparkContext.defaultParallelism, names2.map(col): _*))
                    .write.partitionBy(names2: _*).mode("append").parquet(dir)
                  catch { case t: Throwable =>
                    PartitionChangeFeed.abortStaged(spark, staged); throw t
                  }
                  // the append IS the publish here — journal right after
                  // it lands so a crash before the feed rename repairs in
                  // (the loss window shrinks to two metadata ops)
                  PartitionChangeFeed.journalPublished(spark, dir, staged)
                  PartitionChangeFeed.commitStaged(spark, dir, staged)
                }
                // an empty insert appends nothing and feeds nothing
              }
              spark.catalog.refreshByPath(dir)
            }
          }
      }
    }

  // ---- translatable DELETE: direct per-partition rewrite ------------------

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(WorkspaceDml.toColumn(_).isDefined)

  /** Path-value column per level for MATCHING (not writing). */
  private def levelPathColumn(l: PartLevel): Column =
    l.deriveColumn(col(l.sourceCol))

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    var lock = WorkspaceDmlLock.acquire(spark, dir)
    var lockHeld = true
    val token = java.util.UUID.randomUUID().toString
    var claims: Seq[Path] = Nil
    try {
      // crashed-DML debris first, under the lock (the same composition
      // rule every entry point follows)
      repairRetiredPartitions()
      val all = leafDirsWithValues()
      val candidates = all.filter { case (_, vals) =>
        filters.forall(f => leafMayMatch(f, vals)) }
      if (candidates.isEmpty) ()        // no partition can match: no-op
      else if (candidates.size == all.size) {
        // the predicate pins nothing (or everything): whole-table grain —
        // the discovery scan and survivor staging read across partitions,
        // so hold the table lock throughout, after waiting (bounded) for
        // any claim-holding statement's copy to drain (r17)
        lock = WorkspaceDmlLock.awaitNoLiveClaims(spark, dir, lock)
        // the wait can release the lock transiently while claim holders
        // publish — repair their crash debris and RE-LIST the leaves so
        // the discovery scan sees the post-publish layout
        repairRetiredPartitions()
        deleteWhereScoped(filters, leafDirsWithValues(), claimInfo = None)
      } else {
        // PARTITION grain (r16): the filters pin a leaf subset from the
        // directory values alone (dayMayMatch / identityMayMatch,
        // conservative keep) — claim exactly those leaves, release the
        // table lock for the survivor staging (the swap re-takes it
        // briefly), and let disjoint-partition statements proceed
        // concurrently with this DELETE. A fresh foreign claim on any
        // candidate aborts cleanly instead.
        claims = WorkspaceDmlLock.acquireClaims(
          spark, dir, candidates.map { case (_, vals) => relOf(vals) }, token)
        try {
          WorkspaceDmlLock.release(spark, lock); lockHeld = false
          deleteWhereScoped(filters, candidates,
            claimInfo = Some((claims, token)))
        } finally WorkspaceDmlLock.releaseClaims(spark, claims, token)
      }
    } finally if (lockHeld) WorkspaceDmlLock.release(spark, lock)
  }

  /** Can rows inside a leaf with path values `vals` satisfy `f`, decided
    * from the DIRECTORY values alone? Conservative keep: any filter shape
    * the level cannot decide keeps the leaf a candidate. */
  private def leafMayMatch(f: sources.Filter, vals: Seq[String]): Boolean =
    levels.zip(vals).forall { case (l, v) => l.mayMatch(f, v) }

  /** The candidate leaves as one DataFrame — the restricted analogue of
    * [[readFull]]: identity layouts keep `basePath` so partition columns
    * stay alive with declared types; hidden layouts read leaves directly
    * (the source column is in the files). */
  private[sources] def readLeaves(paths: Seq[String]): DataFrame =
    PartitionedWorkspace.readHive(idSpark, dir, declaredFull, levels, paths)

  private def deleteWhereScoped(filters: Array[sources.Filter],
                                candidates: Seq[(String, Seq[String])],
                                claimInfo: Option[(Seq[Path], String)]): Unit = {
    val underClaims = claimInfo.isDefined
    val cond = filters.flatMap(WorkspaceDml.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val full =
      if (underClaims) readLeaves(candidates.map(_._1)) else readFull()
    // matched partitions via a PRUNED scan (a partition-level predicate
    // in `cond` never lists the other directories)
    val touched: Seq[Seq[String]] = full.filter(coalesce(cond, lit(false)))
      .select(levels.map(l => levelPathColumn(l).as(l.pathName)): _*)
      .distinct().collect().toSeq
      .map(r => levels.indices.map(i =>
        PartitionedWorkspace.valueString(r.get(i))))
    if (touched.isEmpty) return   // no row matches anywhere: a clean no-op
    // ONE survivor job (r17, verdict r16 #1): the pre-r17 shape staged one
    // Spark write (plus an isEmpty probe) PER touched leaf, sequentially on
    // the driver — the wrong plan for a non-partition-pinned predicate over
    // thousands of leaves (`user_id = X` across 3650 days = 3650+ serial
    // jobs under the statement's lock/claims). Instead: restrict the scan
    // to exactly the touched leaves (a BROADCAST left-semi join on the leaf
    // tuple — the leaf list is a driver-bounded partition set), keep the
    // survivors, and stage them hive-clustered in ONE job through the same
    // sized writer the respec and compaction use (each leaf lands in one
    // task ⇒ ceil(rows/targetRows) files). A leaf whose rows all match
    // simply stages nothing and is deleted by the publish (it is in the
    // retired set with no replacement).
    val touchKeys = levels.map(l => s"__touched_${l.pathName}")
    // same session as `full` (the id-read isolated one) — mixing sessions
    // in one plan resolves confs unpredictably
    val touchedDf = full.sparkSession.createDataFrame(
      spark.sparkContext.parallelize(
        touched.map(org.apache.spark.sql.Row.fromSeq), numSlices = 1),
      StructType(touchKeys.map(k =>
        org.apache.spark.sql.types.StructField(k, StringType))))
    val joinCond = levels.zip(touchKeys).map { case (l, k) =>
      levelPathColumn(l).cast(StringType) === col(k) }.reduce(_ && _)
    val survivors = full
      .filter(!coalesce(cond, lit(false)))
      .join(broadcast(touchedDf), joinCond, "left_semi")
    // change feed (opt-in): the deleted rows, staged while the pre-image
    // is still live, renamed in strictly after the publish
    val feed: Option[Path] =
      if (!PartitionChangeFeed.enabled(spark, dir)) None
      else PartitionChangeFeed.stage(spark, dir, PartitionChangeFeed.tagged(
        full.filter(coalesce(cond, lit(false)))
          .join(broadcast(touchedDf), joinCond, "left_semi"), "delete"))
    val staging = stagingPath()
    val targetRows = spark.conf
      .get("graft.repartition.targetRowsPerFile", "5000000").trim.toLong
    // a STAGING failure aborts with the table untouched (nothing retired
    // yet — dropping OUR staging loses no data)
    try PartitionEvolution.stageLayoutWrite(
      spark, survivors, declaredFull, levels, staging, targetRows)
    catch { case e: Throwable =>
      dropStaging(staging)
      PartitionChangeFeed.abortStaged(spark, feed)
      throw e
    }
    // SWAP — through the shared partition-grained publish (retire by
    // rename, staged replacements in, manifests stamped BEFORE anything
    // retires, retired copies delete LAST; a failure past the first retire
    // leaves staging and parked copies for [[repairRetiredPartitions]]).
    // Under claims the swap re-takes the table lock (bounded wait — every
    // probe and publish holds it, so the renames never tear a concurrent
    // statement's probe scan), VERIFIES the claims still carry this
    // statement's token (a grace-broken-and-retaken claim aborts here,
    // with nothing retired and our staging dropped — ADVICE r16), then
    // heartbeats them; the whole-table path heartbeats the lock it already
    // holds (the staging job may have outlived the grace).
    val lock2 =
      if (underClaims) Some(WorkspaceDmlLock.acquireWait(spark, dir))
      else { WorkspaceDmlLock.refresh(spark, dir); None }
    try {
      claimInfo.foreach { case (paths, tok) =>
        try WorkspaceDmlLock.verifyClaims(spark, paths, tok)
        catch { case t: Throwable =>
          dropStaging(staging)
          PartitionChangeFeed.abortStaged(spark, feed)
          throw t
        }
        WorkspaceDmlLock.refreshClaims(spark, paths)
      }
      publishPartitioned(staging, Some(touched.map(relOf)), feed)
      PartitionChangeFeed.commitStaged(spark, dir, feed)
    } catch { case t: Throwable =>
      PartitionChangeFeed.abortStaged(spark, feed); throw t
    } finally lock2.foreach(WorkspaceDmlLock.release(spark, _))
  }

  // ---- group-based COW with partition-grained groups ----------------------

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new PartitionedCowOperation(PartitionedWorkspaceTable.this, info.command())
    }
}

/** Partition-grained copy-on-write: the scan exposes the levels' source
  * columns for runtime group filtering, the write lands hive-partitioned
  * files in a staging dir (one parquet `OutputWriter` per (task, leaf)),
  * and the commit republishes exactly the partitions the scan read. */
private[sources] class PartitionedCowOperation(
    table: PartitionedWorkspaceTable, cmd: Command) extends RowLevelOperation {

  /** RELATIVE leaf paths the runtime group filter pinned; None = the
    * filter never engaged, so the group set is every partition. Written on
    * the driver during scan filtering, read on the driver at commit. */
  @volatile private[sources] var readRels: Option[Seq[String]] = None

  override def command(): Command = cmd
  override def description(): String =
    s"graft partitioned COW $cmd (${table.name})"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new PartitionScopedScan(table, PartitionedCowOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String =
          s"graft partitioned COW $cmd write (${table.name})"
        override def toBatch: BatchWrite =
          new PartitionedCowBatchWrite(table, PartitionedCowOperation.this, info)
      }
    }
}

/** The operation scan: a full-fidelity parquet scan (vectorized, columnar)
  * over either every partition or — once the runtime group filter calls
  * [[filter]] — only the matched leaf directories. Identity layouts keep
  * `basePath` so the partition columns stay alive in the narrowed read;
  * hidden layouts read leaves directly (the source column is in the
  * files). NO data-filter pushdown, deliberately: parquet row-group
  * pruning is inexact, and a dropped survivor row would vanish from the
  * rewritten partition. Path restriction is exact by construction (whole
  * directories). */
private class PartitionScopedScan(table: PartitionedWorkspaceTable,
                                  op: PartitionedCowOperation)
  extends Scan with SupportsRuntimeV2Filtering {

  private def innerScan(paths: Seq[String]): Scan = {
    if (table.hasHidden) {
      val leaves =
        if (paths.nonEmpty) paths
        else table.leafDirsWithValues().map(_._1)
      if (leaves.isEmpty) return new EmptyPartitionScan(table)
      if (table.levels.length > 1) {
        // MIXED layout (r18): identity values re-attach via basePath
        // discovery; the synthetic hidden dir needs its inner-schema
        // column, pruned right back out so readSchema stays the table row
        val opts = ColumnIds.withReadOption(new CaseInsensitiveStringMap(
          java.util.Map.of("basePath", table.tableDir)))
        val b = ParquetTable(s"${table.name}__cowscan", SparkSession.active,
          opts, leaves,
          Some(PartitionedWorkspace.innerReadSchema(
            table.declaredSchemaFull, table.levels)),
          classOf[ParquetFileFormat]).newScanBuilder(opts)
        b.asInstanceOf[org.apache.spark.sql.connector.read
          .SupportsPushDownRequiredColumns]
          .pruneColumns(table.declaredSchemaFull)
        return b.build()
      }
      val opts = ColumnIds.withReadOption(CaseInsensitiveStringMap.empty())
      ParquetTable(s"${table.name}__cowscan", SparkSession.active, opts,
        leaves, Some(table.declaredSchemaFull), classOf[ParquetFileFormat])
        .newScanBuilder(opts).build()
    } else {
      val opts = ColumnIds.withReadOption(new CaseInsensitiveStringMap(
        java.util.Map.of("basePath", table.tableDir)))
      ParquetTable(s"${table.name}__cowscan", SparkSession.active, opts,
        if (paths.isEmpty) Seq(table.tableDir) else paths,
        Some(table.declaredSchemaFull), classOf[ParquetFileFormat])
        .newScanBuilder(opts).build()
    }
  }

  @volatile private var current: Scan = innerScan(Nil)

  override def readSchema(): StructType = current.readSchema()
  override def toBatch: Batch = current.toBatch
  override def description(): String =
    s"${table.name} partition-scoped COW scan"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    current.columnarSupportMode()

  /** ONLY the FIRST level's source column, deliberately: with multiple
    * attributes Spark's `RowLevelOperationRuntimeGroupFiltering` builds a
    * single TUPLE-IN subquery whose child is a struct, which
    * `translateRuntimeFilterV2` cannot express as a V2 predicate (it
    * requires one pushable column) — the filter would be dropped entirely
    * and the rewrite would read EVERY partition. One attribute keeps the
    * group filter alive; the DML grain for a multi-level table is
    * therefore the FIRST-level value (all its sub-partitions), still
    * 1/|level-1 values| of the table instead of all of it.
    *
    * Days-layout cardinality trade, stated plainly: the group-filter
    * subquery collects the matched rows' DISTINCT SOURCE values (raw
    * timestamps) through Spark's own `InSubqueryExec` BEFORE this scan
    * reduces them to days — a DML statement matching billions of
    * microsecond-distinct timestamps pays that driver collect inside
    * Spark, not here. That is Spark's standard runtime-group-filter cost
    * model (Iceberg MOR tables pay it identically on a timestamp filter
    * attribute); for such statements disable
    * `spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled`
    * and accept the full-partition-set rewrite, or route the change
    * through the snapshot catalog's O(delta) thin path. */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(table.levels.head.sourceCol))

  override def filter(predicates: Array[Predicate]): Unit = {
    PartitionedWorkspace.predicateValues(predicates, table.levels).foreach { pinned =>
      val rels = table.matchingRels(pinned)
      op.readRels = Some(rels)
      // an EMPTY pinned set (the command's condition matched no partition,
      // or every pinned directory is already gone) must plan ZERO input —
      // a whole-table fallback here would restage every row as a "copy"
      // that publishPartitioned APPENDS next to the originals (readRels
      // retires nothing), silently duplicating the table
      current =
        if (rels.isEmpty) new EmptyPartitionScan(table)
        else innerScan(rels.map(r => s"${table.tableDir}/$r"))
    }
  }
}

/** The zero-group scan: the runtime group filter pinned NO partitions, so
  * the rewrite's copy side reads nothing at all (MERGE INSERT rows still
  * flow — they come from the source side, not this scan). */
private class EmptyPartitionScan(table: PartitionedWorkspaceTable) extends Scan {
  override def readSchema(): StructType = table.declaredSchemaFull
  override def description(): String =
    s"${table.name} partition-scoped COW scan (zero matched partitions)"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions():
        Array[org.apache.spark.sql.connector.read.InputPartition] = Array.empty
    override def createReaderFactory():
        org.apache.spark.sql.connector.read.PartitionReaderFactory =
      new org.apache.spark.sql.connector.read.PartitionReaderFactory {
        override def createReader(
            p: org.apache.spark.sql.connector.read.InputPartition):
            org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
          throw new IllegalStateException(
            "zero-partition scan planned no input; nothing to read")
      }
  }
}

private case object PartitionedCowCommit extends WriterCommitMessage

/** Driver-side write: prepare Spark's own parquet `OutputWriterFactory`
  * once (job conf carries the write support schema), fan it out to tasks,
  * and commit by republishing the read partitions from staging. */
private class PartitionedCowBatchWrite(table: PartitionedWorkspaceTable,
                                       op: PartitionedCowOperation,
                                       info: LogicalWriteInfo) extends BatchWrite {
  private val spark = SparkSession.active
  // the DML fence, r16 two-grain protocol (WorkspaceDmlLock claims
  // scaladoc): the TABLE lock is held only across the SHORT phases — from
  // here (before the runtime group-filter probe scans any table data)
  // until the probe has pinned the statement's partitions and per-leaf
  // CLAIMS are acquired for them (createBatchWriterFactory, which Spark
  // calls after the scan's runtime filtering and before any copy task
  // launches) — and again around the publish renames. The LONG copy phase
  // runs under the leaf claims alone, so statements touching DISJOINT
  // partitions copy concurrently; a statement whose group filter never
  // engages keeps the table lock for its whole duration (whole-table
  // grain, the pre-r16 behavior).
  private var lock = WorkspaceDmlLock.acquireWait(spark, table.tableDir)
  private var lockHeld = true
  private val claimToken = java.util.UUID.randomUUID().toString
  // None = table-lock mode; Some(rels) = claims mode with the READ set
  private var claimedRels: Option[Set[String]] = None
  private var claims: Seq[Path] = Nil
  private val staging = table.stagingPath()
  private val writeSchema = info.schema()
  private val levelOrdinals: Seq[Int] =
    table.levels.map(l => writeSchema.fieldIndex(l.sourceCol))
  private val identityOrdinals: Set[Int] =
    table.levels.zip(levelOrdinals).collect {
      case (l, o) if l.inSchema => o
    }.toSet
  private val fileSchema = ColumnIds.withDeclaredIds(
    StructType(writeSchema.zipWithIndex
      .filterNot { case (_, i) => identityOrdinals.contains(i) }.map(_._1)),
    Some(table.fileSchema))

  override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    // per-JOB override, after prepareWrite stamped the session default:
    // ParquetWriteSupport reads this key from the task-side hadoop conf,
    // so leaf data files carry footer-usable INT64 timestamp stats
    // (Sinks.microsBound's contract) without touching the shared session
    job.getConfiguration.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // downgrade table lock → per-leaf claims once the runtime group filter
    // pinned the READ set (this runs after scan planning, before any copy
    // task): disjoint statements then copy concurrently. filter() never
    // engaged (readRels None) = whole-table statement, keep the lock.
    if (lockHeld) op.readRels.foreach { rels =>
      // a claim CONFLICT throws out of factory creation, which Spark does
      // not follow with abort() — release the table lock here or the
      // aborted statement wedges the table until the grace deadline
      try {
        claims = WorkspaceDmlLock.acquireClaims(
          spark, table.tableDir, rels, claimToken)
        claimedRels = Some(rels.toSet)
      } catch { case t: Throwable =>
        WorkspaceDmlLock.release(spark, lock); lockHeld = false; throw t
      }
      WorkspaceDmlLock.release(spark, lock)
      lockHeld = false
    }
    // WHOLE-TABLE mode (the group filter never engaged — disabled, or the
    // predicate untranslatable): the same claims gate every other
    // whole-table op takes (ADVICE r17-high). Without it, a claims-mode
    // statement mid-copy holds NO table lock, so this statement's full
    // republish (publishPartitioned with readRels=None retires EVERY leaf)
    // proceeds — and when the claim holder later publishes its staged leaf
    // (copied from pre-statement data), this statement's committed changes
    // to that partition are silently lost, with no conflict detected on
    // either side. Claims are only ever acquired under the table lock,
    // which this statement has held since toBatch, so one check here
    // fences the statement's whole duration. INSTANT refusal, not the
    // bounded wait: the statement's scan listed its files before this
    // factory ran (Spark sizes PhysicalWriteInfo from the query RDD), so
    // proceeding after a claim holder publishes would copy from a stale
    // index — abort retryably instead. No abort() follows a factory-
    // creation throw: release the lock explicitly.
    if (lockHeld && claimedRels.isEmpty) {
      try WorkspaceDmlLock.requireNoLiveClaims(spark, table.tableDir)
      catch { case t: Throwable =>
        WorkspaceDmlLock.release(spark, lock); lockHeld = false; throw t
      }
    }
    new PartitionedCowWriterFactory(staging.toString, table.levels,
      levelOrdinals, identityOrdinals, writeSchema, fileSchema, owf,
      new SerializableHadoopConf(job.getConfiguration))
  }

  /** Change feed (opt-in): the MINIMAL pre/post multiset diff of the
    * statement's partitions, staged BEFORE any rename (the pre-image must
    * be read while the retired leaves are still live), renamed in strictly
    * after the publish. A staging failure aborts the statement pre-publish
    * (nothing retired; Spark's abort drops the data staging). */
  private def stageFeed(): Option[Path] =
    if (!PartitionChangeFeed.enabled(spark, table.tableDir)) None
    else {
      val pre = op.readRels match {
        case Some(rels) => table.readRelLeaves(rels)
        case None => table.readFull()
      }
      val post = table.readStagedLeaves(staging)
      PartitionChangeFeed.stage(spark, table.tableDir,
        PartitionChangeFeed.tagged(pre.exceptAll(post), "delete")
          .unionByName(PartitionChangeFeed.tagged(post.exceptAll(pre), "insert")))
    }

  override def commit(msgs: Array[WriterCommitMessage]): Unit = claimedRels match {
    case None =>
      // the feed diff is a real Spark job BEFORE the publish — heartbeat
      // the lock so the pre-publish window measures from here, not from
      // the (possibly long) copy phase
      WorkspaceDmlLock.refresh(spark, table.tableDir)
      val feed = stageFeed()
      try {
        table.publishPartitioned(staging, op.readRels, feed)
        PartitionChangeFeed.commitStaged(spark, table.tableDir, feed)
      } catch { case t: Throwable =>
        PartitionChangeFeed.abortStaged(spark, feed); throw t
      } finally WorkspaceDmlLock.release(spark, lock)
    case Some(rels) =>
      // publish window: stage the feed diff (pre-image still live, claims
      // held), re-take the table lock (bounded wait — every probe and
      // publish holds it, so renames never tear another statement's probe
      // scan), heartbeat the claims (the copy may have outlived the
      // grace), claim any WRITE-ONLY staged leaves (cross-partition UPDATE
      // moves, MERGE INSERT into unread partitions — a conflict there
      // aborts with nothing retired and staging dropped by Spark's abort
      // callback), publish, release everything.
      // heartbeat OUR claims (token-checked — no table lock here) before
      // the feed-diff job; the verify at publish remains the arbiter
      WorkspaceDmlLock.refreshClaims(spark, claims, claimToken)
      val feed = stageFeed()
      // a lock-wait timeout here would otherwise strand the staged feed
      // entry as permanent .staging_* debris (no janitor covers the feed
      // root) — abort it on ANY throw before the publish try below owns it
      try {
        lock = WorkspaceDmlLock.acquireWait(spark, table.tableDir)
        lockHeld = true
      } catch { case t: Throwable =>
        PartitionChangeFeed.abortStaged(spark, feed); throw t
      }
      try {
        // a grace-broken-and-retaken claim aborts BEFORE heartbeating (the
        // refresh must never extend the NEW holder's file) and before any
        // rename — Spark's abort() then drops our staging (ADVICE r16)
        WorkspaceDmlLock.verifyClaims(spark, claims, claimToken)
        WorkspaceDmlLock.refreshClaims(spark, claims)
        val extra = table.stagedRels(staging).filterNot(rels.contains)
        if (extra.nonEmpty)
          claims = claims ++ WorkspaceDmlLock.acquireClaims(
            spark, table.tableDir, extra, claimToken)
        table.publishPartitioned(staging, op.readRels, feed)
        PartitionChangeFeed.commitStaged(spark, table.tableDir, feed)
      } catch { case t: Throwable =>
        PartitionChangeFeed.abortStaged(spark, feed); throw t
      } finally {
        WorkspaceDmlLock.releaseClaims(spark, claims, claimToken)
        WorkspaceDmlLock.release(spark, lock)
        lockHeld = false
      }
  }

  override def abort(msgs: Array[WriterCommitMessage]): Unit =
    try table.dropStaging(staging)
    finally {
      WorkspaceDmlLock.releaseClaims(spark, claims, claimToken)
      if (lockHeld) { WorkspaceDmlLock.release(spark, lock); lockHeld = false }
    }
}

/** Executor-side: route each row to a parquet `OutputWriter` keyed by its
  * leaf partition path (one file per (task, leaf) — the leaf set is the
  * touched-partition set, driver-bounded). Rows may arrive tagged with the
  * rewrite's leading `__row_operation` INT (see
  * [[OpStrippingWriterFactory]]'s scaladoc) — stripped the same way. The
  * IDENTITY columns are projected OUT of the stored row; a days level's
  * source column stays. */
private class PartitionedCowWriterFactory(
    stagingDir: String,
    levels: Seq[PartLevel],
    levelOrdinals: Seq[Int],
    identityOrdinals: Set[Int],
    writeSchema: StructType,
    fileSchema: StructType,
    owf: OutputWriterFactory,
    conf: SerializableHadoopConf) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(new TaskID(new JobID("graft_cow", 0),
          TaskType.MAP, partitionId), 0))
      private val ext = owf.getFileExtension(ctx)
      private val n = writeSchema.length
      private lazy val tagProj =
        ProjectingInternalRow(writeSchema, (1 to n).toIndexedSeq)
      private val fileProj = ProjectingInternalRow(fileSchema,
        writeSchema.indices.filterNot(identityOrdinals.contains).toIndexedSeq)
      private val levelTypes: Seq[DataType] =
        levelOrdinals.map(writeSchema(_).dataType)
      private val writers = mutable.Map.empty[String, OutputWriter]

      override def write(row: InternalRow): Unit = {
        val r0 =
          if (row.numFields == n) row
          else {
            require(row.numFields == n + 1,
              s"COW write expected $n or ${n + 1} fields, got ${row.numFields}")
            tagProj.project(row)
            tagProj
          }
        levels.zip(levelOrdinals).foreach { case (l, ord) =>
          require(!r0.isNullAt(ord),
            s"NULL partition source value in ${l.sourceCol} — partitioned " +
              "workspace tables require non-null partition keys")
        }
        val rel = levels.lazyZip(levelTypes).lazyZip(levelOrdinals).map {
          (l, t, ord) =>
            PartitionedWorkspace.partDirName(l.pathName, l.pathValue(t, r0, ord))
        }.mkString("/")
        val w = writers.getOrElseUpdate(rel, {
          val file = s"$stagingDir/$rel/part-$partitionId-$taskId-" +
            s"${java.util.UUID.randomUUID().toString.take(8)}$ext"
          owf.newInstance(file, fileSchema, ctx)
        })
        fileProj.project(r0)
        w.write(fileProj)
      }

      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_.close()); PartitionedCowCommit
      }

      /** A failed attempt must leave NOTHING in the shared staging dir:
        * Spark retries failed/speculative tasks, and the retry writes its
        * own attempt-unique files — orphaned files from this attempt would
        * be published alongside them (silent duplicate rows). */
      override def abort(): Unit = writers.values.foreach { w =>
        try w.close() catch { case scala.util.control.NonFatal(_) => () }
        try {
          val p = new org.apache.hadoop.fs.Path(w.path())
          p.getFileSystem(conf.value).delete(p, false): Unit
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      override def close(): Unit = ()
    }
}
