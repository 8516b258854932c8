package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import graft.operators.Sinks

/** The schema record of a snapshot table, flat or partitioned — what
  * [[ColumnIds]] resolves its data files by. Every id-stamped version
  * carries its own record, `_pinschema.json` ([[stage]]): the table's full
  * schema, tombstones included, that its data files were stamped under.
  * It lands inside the version folder before the pointer commit, so a
  * version and its shape become visible in one swap, and a failed or
  * crashed publish leaves every committed version's shape as it was. The
  * table's `_schema.json` ([[Registry]]) holds what no version carries:
  * the id floor and the ALTER layer. A pinned read of `v` serves `v`'s own
  * record; an unpinned read of head `v` serves [[at]]. */
private[graft] object SnapshotRecord {

  private val PinFile = "_pinschema.json"

  private def struct(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Stage `record` in the not-yet-committed version folder `dir`. An
    * id-less record is not staged: such a version serves by name. */
  def stage(spark: SparkSession, dir: String, record: StructType): Unit =
    if (ColumnIds.isStamped(record))
      MetaFs.stage(spark, new Path(dir, PinFile), record.json)

  /** Version `v`'s own record, None for a version published without one.
    * Only a present record is memoized: a plain write stages it after its
    * data, so an early probe must not pin an absence. */
  def own(spark: SparkSession, tableDir: String, v: Int): Option[StructType] =
    Sinks.cachedMarker[StructType](spark, tableDir, v, "pin", negative = false) {
      MetaFs.read(spark, new Path(s"$tableDir/v=$v", PinFile)).map(struct)
    }

  /** The fingerprint of a version without a record of its own. */
  private val NoRecord = "-"

  /** `_schema.json`. `maxId`: the highest field id ever allocated — a
    * publish raises it before it lands, so not even a failed publish's
    * ids are reused. `layer`: the record metadata-only ALTERs evolved,
    * with `from`, the fingerprints ([[ColumnIds.fingerprint]]) of every
    * record it was folded from. An unpinned read serves the layer while
    * the head's own record is in `from` — the head the ALTER applied to,
    * or a publish that kept the shape of one of the layer's steps, such as
    * a thin DML bound before the ALTER. A publish that changes the shape
    * commits a record outside `from`, which retires the layer. Three
    * lines, the `_base.json` idiom; a registry written before ids were
    * recorded is one StructType JSON, a layer over versions without a
    * record. */
  private final case class Registry(maxId: Long, from: Set[String],
                                    layer: Option[StructType],
                                    legacy: Boolean = false) {
    def render: String = s"$maxId\n${from.mkString(",")}\n${layer.fold("")(_.json)}"
  }

  private def parse(txt: String): Registry =
    if (txt.trim.startsWith("{")) Registry(0L, Set(NoRecord), Some(struct(txt)))
    else {
      val lines = txt.split('\n').map(_.trim)
      Registry(lines(0).toLong,
        lines.lift(1).filter(_.nonEmpty).fold(Set.empty[String])(_.split(',').toSet),
        lines.lift(2).filter(_.nonEmpty).map(struct))
    }

  /** In-JVM memo of the registry, read on every unpinned read, DML bind
    * and publish. A writer bumps [[generation]] before it drops the entry,
    * and a reader installs what it read only if no write began since it
    * did, so a read racing a write never re-installs the old content. An
    * ALTER from ANOTHER process becomes visible to this JVM on the next
    * cache turnover or restart; a publish's shape never waits on it (it
    * rides the version). A read-modify-write of the registry reads it
    * `fresh`, under the table's DDL lock. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Registry]()
  private val generation = new java.util.concurrent.atomic.AtomicLong()
  private val CacheMax = 16384

  private def registry(spark: SparkSession, tableDir: String,
                       fresh: Boolean = false): Registry = {
    val hit = if (fresh) null else cache.get(tableDir)
    if (hit != null) return hit
    val gen = generation.get()
    val res = MetaFs.read(spark, new Path(tableDir, "_schema.json")).map(parse)
      .orElse(MetaFs.read(spark, new Path(tableDir, "_partschema.json"))
        .map(legacy(spark, tableDir, _)))
      .getOrElse(Registry(0L, Set.empty, None))
    if (cache.size >= CacheMax) cache.clear()
    cache.compute(tableDir, (_, old) => if (generation.get() == gen) res else old): Unit
    res
  }

  /** A partitioned table written before its versions recorded their full
    * shape: its `_partschema.json` is the evolved schema, tombstones
    * included, that the head served. It reads as a layer over the head's
    * own record, with its own max id as the floor; the first ALTER or
    * shape-changing publish writes `_schema.json` in its place. */
  private def legacy(spark: SparkSession, tableDir: String,
                     txt: String): Registry = {
    val layer = struct(txt)
    val head = Sinks.snapshotCommitted(spark, tableDir)
      .flatMap(own(spark, tableDir, _))
    Registry(ColumnIds.maxId(layer), Set(head.fold(NoRecord)(ColumnIds.fingerprint),
      ColumnIds.fingerprint(layer)), Some(layer), legacy = true)
  }

  /** Complete-or-absent: every unpinned read parses this file. */
  private def write(spark: SparkSession, tableDir: String, reg: Registry): Unit = {
    MetaFs.replace(spark, new Path(tableDir, "_schema.json"), reg.render)
    forget(tableDir)
  }

  /** Drop the memo of `tableDir` (its files were replaced or deleted). */
  def forget(tableDir: String): Unit = {
    generation.incrementAndGet(): Unit
    cache.remove(tableDir): Unit
  }

  /** The full record an unpinned read of committed `v` resolves under:
    * the ALTER layer when `v`'s own record is one it was folded from,
    * else `v`'s own record; None for a version without one and no layer
    * over it. */
  def at(spark: SparkSession, tableDir: String, v: Int): Option[StructType] =
    at(spark, tableDir, v, registry(spark, tableDir))

  private def at(spark: SparkSession, tableDir: String, v: Int,
                 reg: Registry): Option[StructType] = {
    val own = this.own(spark, tableDir, v)
    reg.layer.filter(_ => reg.from(own.fold(NoRecord)(ColumnIds.fingerprint)))
      .orElse(own)
  }

  /** Fold a metadata-only ALTER into committed `head`'s record: `change`
    * gets the record an unpinned read of it serves (tombstones included;
    * `fallback` for a head without one) and the id floor, and its result
    * becomes the ALTER layer — no data published, no version folder
    * touched. The caller holds the table's DDL lock, which makes this
    * read-modify-write atomic against other ALTERs and id-allocating
    * publishes. */
  def alter(spark: SparkSession, tableDir: String, head: Int,
            fallback: => StructType)(
      change: (StructType, Long) => StructType): Unit = {
    val reg = registry(spark, tableDir, fresh = true)
    val own = this.own(spark, tableDir, head)
    val ownFp = own.fold(NoRecord)(ColumnIds.fingerprint)
    val (from, cur) =
      if (reg.layer.isDefined && reg.from(ownFp)) (reg.from, reg.layer.get)
      else (Set(ownFp), own.getOrElse(fallback))
    val next = change(cur, reg.maxId)
    write(spark, tableDir, Registry(math.max(reg.maxId, ColumnIds.maxId(next)),
      from + ColumnIds.fingerprint(next), Some(next)))
  }

  /** Run a publish of `incoming` columns onto committed `head` (None: no
    * readable head). `full`: the publish replaces the table's shape (a
    * materialized version: live columns it lacks retire to tombstones,
    * [[ColumnIds.rebind]]); else it is a delta, whose unknown columns
    * extend the shape and whose wider types widen it
    * ([[ColumnIds.extend]]). `body` gets the version's record, to stamp
    * its data with and to [[stage]]. A publish that changes the shape
    * runs under the table's DDL lock (the one ALTER takes), waiting a
    * bounded while for a live holder, so no ALTER lands between its bind
    * and its commit; if it allocates ids it raises the id floor before it
    * lands, so two publishes never allocate one id. It also writes a
    * [[legacy]] registry out as `_schema.json`. */
  def publish[T](spark: SparkSession, tableDir: String, head: => Option[Int],
                 incoming: StructType, full: Boolean)(
      body: StructType => T): T = {
    def bind(reg: Registry): (StructType, Boolean) = {
      val existing = head.flatMap(at(spark, tableDir, _, reg))
        .filter(ColumnIds.isStamped)
      val floor = math.max(reg.maxId, existing.fold(0L)(ColumnIds.maxId))
      val next =
        if (full) Some(ColumnIds.rebind(
          StructType(incoming.fields.map(_.copy(nullable = true))),
          existing.getOrElse(StructType(Nil)), floor))
        else existing.map(ColumnIds.extend(_, incoming, ColumnIds.Surface(
          "snapshot tables", tableDir, "publish a full version"), floor))
      val rec = next.orElse(existing).getOrElse(incoming)
      (rec, !existing.exists(ColumnIds.fingerprint(_) == ColumnIds.fingerprint(rec)))
    }
    bind(registry(spark, tableDir)) match {
      case (rec, false) => body(rec)
      case _ =>
        val lock = WorkspaceDmlLock.acquireWait(spark, tableDir)
        try {
          val reg = registry(spark, tableDir, fresh = true)
          val (rec, _) = bind(reg)
          if (ColumnIds.maxId(rec) > reg.maxId || reg.legacy)
            write(spark, tableDir,
              reg.copy(maxId = math.max(reg.maxId, ColumnIds.maxId(rec))))
          body(rec)
        } finally WorkspaceDmlLock.release(spark, lock)
    }
  }
}
