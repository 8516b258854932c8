package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** PER-LEAF file manifests for partitioned workspace tables — the file-
  * skipping ring INSIDE a surviving partition directory (VERDICT r14
  * missing #3: partition pruning picks the days, but a year-partitioned
  * table with 1k files/day still footer-sweeps every matched day).
  *
  * Design points, all driven by the partition publish protocol:
  *
  *  - **The manifest lives IN the leaf** (`<leaf>/_manifest.json`,
  *    underscore-prefixed so every Spark file index ignores it). The
  *    retire-by-RENAME publish then carries it atomically with the leaf:
  *    a republished partition gets its fresh manifest in the SAME rename
  *    that publishes the data (it is written into the staged leaf before
  *    the move), a retired copy parks with its manifest, and crash repair
  *    restores both together. No side index can drift from the files it
  *    describes across the crash protocol.
  *  - **Complete-or-ignored**: the manifest enumerates its leaf's data
  *    files BY NAME; the scan-time prune first compares that set against
  *    the leaf's actual listing and serves the whole directory on ANY
  *    mismatch (a V1 `INSERT INTO` appends files without touching
  *    manifests — the stale manifest self-disables instead of dropping
  *    rows) or read error. Pruning is an optimization, never the
  *    correctness path; the exact predicate re-applies after the skip.
  *  - **Stats come from FOOTERS** ([[FooterStats.fileStats]]) — O(#files)
  *    metadata reads at publish time, zero data pages, zero Spark jobs;
  *    values are stored pre-normalized in the kinds [[ManifestPrune]]
  *    compares in (longs, micros, epoch days, plain-string decimals,
  *    UTF-8 strings), URL-encoded one line per (file, column).
  *
  * Opt-in per table via `<dir>/.stats_cols` (dot-prefixed, invisible to
  * file indexes): the stats column list, written by
  * [[PartitionManifest.enable]], which also builds manifests for every
  * existing leaf under the table's DML lock. */
object PartitionManifest {

  val FileName = "_manifest.json"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  def markerPath(dir: String): Path = new Path(dir, ".stats_cols")

  /** The table's opted-in stats columns, if any. */
  def statsCols(spark: SparkSession, dir: String): Option[Seq[String]] =
    MetaFs.read(spark, markerPath(dir))
      .map(_.trim.split(',').toSeq.map(_.trim).filter(_.nonEmpty))

  /** One line per (file, column): `S <file> <col> <kind> <min> <max>
    * <nulls>`; one `F <file> <rowcount>` line per file. Values are stored
    * pre-normalized: kind i = long, f = double, s = UTF-8 string,
    * t = epoch micros, d = epoch days, x = decimal plain string; `-` =
    * unknown. */
  private def kindAndEncode(dt: DataType, v: Any): Option[(String, String)] =
    (dt, v) match {
      case (_: ByteType | _: ShortType | _: IntegerType, n: Number) =>
        Some(("i", n.longValue.toString))
      case (_: LongType, n: java.lang.Long) => Some(("i", n.toString))
      case (_: FloatType, f: java.lang.Float) =>
        Some(("f", f.doubleValue.toString))
      case (_: DoubleType, d: java.lang.Double) => Some(("f", d.toString))
      case (_: StringType, s: String) => Some(("s", enc(s)))
      case (_: DateType, d: java.sql.Date) =>
        Some(("d", d.toLocalDate.toEpochDay.toString))
      case (_: TimestampType, t: java.sql.Timestamp) =>
        val i = t.toInstant
        Some(("t", Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L).toString))
      case (_: DecimalType, d: java.math.BigDecimal) =>
        Some(("x", d.toPlainString))
      case _ => None
    }

  private def decode(kind: String, s: String): Option[Any] = kind match {
    case "i" => s.toLongOption
    case "f" => s.toDoubleOption
    case "s" => Some(dec(s))
    case "d" => s.toLongOption.map(d => java.time.LocalDate.ofEpochDay(d))
    case "t" => s.toLongOption.map { us =>
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      }
    case "x" => scala.util.Try(new java.math.BigDecimal(s)).toOption
    case _ => None
  }

  /** Build and land `<leaf>/_manifest.json` from the leaf's current
    * parquet footers. Temp+rename so the file appears complete or not at
    * all. Caller holds whatever exclusivity the leaf needs (a staged leaf
    * pre-publish, or the table's DML lock for in-place builds). */
  def writeLeafManifest(spark: SparkSession, leaf: Path,
                        schema: StructType, cols: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = leaf.getFileSystem(conf)
    val files = fs.listStatus(leaf).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val usable = cols.filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    val sb = new StringBuilder
    files.foreach { f =>
      val (rowCount, stats) = FooterStats.fileStats(conf, f, schema, usable)
      sb.append(s"F ${enc(f.getName)} $rowCount\n")
      usable.foreach { c =>
        val st = stats(c)
        val dt = schema(schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))).dataType
        val mn = Option(st.min).flatMap(kindAndEncode(dt, _))
        val mx = Option(st.max).flatMap(kindAndEncode(dt, _))
        val kind = mn.map(_._1).orElse(mx.map(_._1)).getOrElse("-")
        sb.append(s"S ${enc(f.getName)} ${enc(c)} $kind " +
          s"${mn.map(_._2).getOrElse("-")} ${mx.map(_._2).getOrElse("-")} " +
          s"${st.nullCount.map(_.toString).getOrElse("-")}\n")
      }
    }
    MetaFs.replace(spark, new Path(leaf, FileName), sb.toString)
  }

  /** Opt a partitioned workspace table into per-leaf file manifests and
    * build them for every EXISTING leaf, under the table's DML statement
    * lock (a concurrent statement aborts cleanly rather than racing the
    * in-place builds). From then on every partition-grained publish
    * stamps fresh manifests into the leaves it rewrites; `INSERT INTO`
    * appends leave a leaf's manifest stale, which the scan detects (file
    * sets differ) and serves unpruned — re-run this to restore skipping
    * on insert-heavy tables. Returns the number of leaves indexed.
    * Cost: O(#files) footer reads, zero data pages, zero Spark jobs. */
  def enable(spark: SparkSession, tableDir: String,
             cols: Seq[String]): Int =
    WorkspaceDmlLock.withLockNoClaims(spark, tableDir) {
      // manifest stamping walks and writes into live leaves — the gate
      // waits (bounded) for claim-holding statements that could republish
      // them mid-walk; the walk below starts after the gate, so the
      // wait's transient lock release is safe (r17)
      val root = new Path(tableDir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val leaves = leafDirs(fs, root)
      // resolve + build FIRST, persist the marker LAST: a marker naming a
      // column the schema can't resolve would make every later partition
      // DML statement fail at its staged-leaf stamping until hand-removed
      val canonical =
        if (leaves.isEmpty) cols
        else {
          val schema = FooterSchema.require(spark, leaves.head.toString)
          val resolved = FooterStats.resolveCols(schema, cols)
          // per-leaf stamps are independent (each builds from its own
          // footers, temp+renames into its own dir) — fan out across a
          // bounded driver pool instead of serializing #leaves FS
          // round-trips (graft.Par scaladoc)
          graft.Par.each(leaves)(writeLeafManifest(spark, _, schema, resolved))
          resolved
        }
      MetaFs.replace(spark, markerPath(tableDir), canonical.mkString(","))
      leaves.length
    }

  /** Generic hive-leaf walk: directories named `k=v` all the way down; a
    * leaf is a partition directory holding data files directly. */
  private[sources] def leafDirsOf(fs: FileSystem, root: Path): Seq[Path] =
    leafDirs(fs, root)

  private def leafDirs(fs: FileSystem, root: Path): Seq[Path] = {
    def descend(p: Path): Seq[Path] = {
      val children = fs.listStatus(p).toSeq
      val subParts = children.filter(st => st.isDirectory &&
        st.getPath.getName.contains("=") && !st.getPath.getName.startsWith("."))
      if (subParts.nonEmpty) subParts.flatMap(st => descend(st.getPath))
      else if (children.exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")) &&
          p.getName.contains("=")) Seq(p)
      else Nil
    }
    descend(root)
  }

  /** What a scan of leaf dirs `leaves` of table `dir` reads under `pushed`:
    * each leaf's [[prunedFiles]] when opted in and served, else the leaf. */
  def prunedPaths(spark: SparkSession, dir: String, leaves: Seq[String],
                  pushed: Seq[sources.Filter]): Seq[String] =
    if (statsCols(spark, dir).isEmpty) leaves
    else leaves.flatMap(l => prunedFiles(spark, new Path(l), pushed).getOrElse(Seq(l)))

  /** Prune one leaf's file list against its manifest. Returns the kept
    * ABSOLUTE file paths, or None when the leaf must serve unpruned (no
    * manifest, stale manifest — file set drifted, e.g. an INSERT INTO
    * appended — or any read/parse error). */
  def prunedFiles(spark: SparkSession, leaf: Path,
                  pushed: Seq[sources.Filter]): Option[Seq[String]] =
    try {
      val txt = MetaFs.read(spark, new Path(leaf, FileName)).getOrElse(return None)
      val listed = MetaFs.fs(spark, leaf).listStatus(leaf).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
      val rowCounts = scala.collection.mutable.Map[String, Long]()
      val stats = scala.collection.mutable
        .Map[String, scala.collection.mutable.Map[String, ManifestPrune.ColRange]]()
      txt.split('\n').filter(_.nonEmpty).foreach { line =>
        val parts = line.split(' ')
        parts(0) match {
          case "F" if parts.length == 3 =>
            rowCounts(dec(parts(1))) = parts(2).toLong
          case "S" if parts.length == 7 =>
            val f = dec(parts(1)); val c = dec(parts(2)).toLowerCase
            val mn = if (parts(4) == "-") null
              else decode(parts(3), parts(4)).orNull
            val mx = if (parts(5) == "-") null
              else decode(parts(3), parts(5)).orNull
            val nulls = if (parts(6) == "-") None else parts(6).toLongOption
            stats.getOrElseUpdate(f, scala.collection.mutable.Map())(c) =
              ManifestPrune.ColRange(mn, mx, nulls)
          case _ => throw new IllegalStateException(s"bad manifest line: $line")
        }
      }
      // complete-or-ignored: the manifest must enumerate EXACTLY the
      // leaf's current files — any drift (appended/compacted files) makes
      // the whole leaf serve unpruned rather than risk dropping rows
      if (rowCounts.keySet != listed) return None
      Some(listed.toSeq.sorted.filter { name =>
        // a ZERO-ROW file (an empty writer task's part) matches nothing
        rowCounts.get(name).forall(_ > 0L) &&
          pushed.forall(ManifestPrune.mayMatchStats(_,
            stats.getOrElse(name, scala.collection.mutable.Map()).toMap,
            rowCounts.get(name)))
      }.map(n => new Path(leaf, n).toString))
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(PartitionManifest.getClass).warn(
          s"leaf manifest read failed under $leaf; serving the directory " +
            "unpruned", e)
        None
    }
}
