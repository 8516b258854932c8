package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, StreamingQueryProgress, TimeMode, TimerValues, Trigger,
  TTLConfig, ValueState}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface over the `events` schema (SURVEY §2.9).
  *
  * The reference has no streaming; the engine exposes Spark's native model:
  * the SAME transformations run on a batch DataFrame (oracle-checkable) or a
  * streaming one (`readStream`) — that unification is the design. Watermarks
  * bound state; the aggregations are partial-agg friendly (map-side combine
  * before the keyed shuffle).
  */
object Streams {

  // Exact decimal accumulator surfaced as double via a string cast — exact
  // text, correctly-rounded parse in both engines (RelationalQueries.dsum).
  private def dsum(c: Column, scale: Int) =
    sum(c.cast(DecimalType(27, scale))).cast("string").cast("double")

  /** Run a bounded streaming topology under `Trigger.AvailableNow`, write
    * each micro-batch to a parquet sink via foreachBatch, and read the sink
    * back as the result — the shared skeleton of every streaming query.
    *
    * Two overhead knobs, both SCOPED (restored in a finally, so no failure
    * path leaks them into later batch/streaming work in the session):
    *
    *  - `statePartitions`: streaming state costs checkpoint I/O per SHUFFLE
    *    PARTITION per micro-batch (a stream-stream join keeps FOUR stores
    *    per partition); a bounded run at the batch default of 32 partitions
    *    drowns the actual data in that fixed machinery (scoping q131 to 8
    *    cut it 3.7×). Production unbounded topologies size this to
    *    throughput instead — it is a knob, not a constant.
    *  - `noDataBatch`: the trailing no-data micro-batch exists only for
    *    watermark-driven eviction/emission. Complete mode reruns the full
    *    agg + sink write for an identical result, and a bounded inner join
    *    has nothing left to emit — skip it (~2× less streaming work). Leave
    *    it ON for append-mode watermarked aggregations whose final emission
    *    happens in that batch.
    *
    * Complete mode overwrites the sink every micro-batch (the output IS the
    * whole result); any other mode appends. `build` is evaluated inside the
    * scoped-conf window so the topology plans under the scoped values. */
  def runAvailableNow(s: SparkSession, sink: String, chk: String,
                      outputMode: String = "complete",
                      statePartitions: Int = 8,
                      noDataBatch: Boolean = false)
                     (build: => DataFrame): DataFrame = {
    graft.Session.withConfs(s,
        "spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString) {
      val sinkMode = if (outputMode == "complete") "overwrite" else "append"
      val query = build.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          batch.write.mode(sinkMode).parquet(sink)
        }
        .start()
      query.awaitTermination()
    }
    graft.sources.FooterSchema.read(s, sink)
  }

  /** [[runAvailableNow]] in UPDATE mode with per-batch provenance: every
    * micro-batch's emitted (changed) rows land in the sink tagged with
    * `__batch`, so the caller can reduce to final state (last emission per
    * key) AND audit the emission history. Returns the sink read plus the
    * query's progress objects — the `stateOperators` metrics surface
    * (`numRowsDroppedByWatermark`, `numRowsRemoved`) that PROVES late rows
    * were dropped by the watermark and window state was evicted, rather
    * than inferring it from the final answer. `noDataMicroBatches` stays ON
    * here: the trailing batch is what advances the watermark past the last
    * file and drives the final eviction the metrics pin. */
  def runUpdateTagged(s: SparkSession, sink: String, chk: String,
                      statePartitions: Int = 8)
                     (build: => DataFrame): (DataFrame, Seq[StreamingQueryProgress]) = {
    val progress = graft.Session.withConfs(s,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      val query = build.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          batch.withColumn("__batch", lit(batchId))
            .write.mode("append").parquet(sink)
        }
        .start()
      query.awaitTermination()
      query.recentProgress.toSeq
    }
    (graft.sources.FooterSchema.read(s, sink), progress)
  }

  /** Backtick-quote an identifier for interpolation into generated SQL —
    * a column named with spaces, dots or a reserved word must parse as
    * itself, never break the statement or resolve elsewhere. */
  private def q(ident: String): String = "`" + ident.replace("`", "``") + "`"

  /** Streaming CDC upsert through SQL MERGE — the foreachBatch sink pattern
    * every lakehouse uses: each micro-batch first COMPACTS to its newest
    * row per key (one keyed window over batch-sized input — the batch is
    * the bounded thing here, never the table), then ONE `MERGE INTO`
    * lands it with a newer-wins residual on the match, so a replayed
    * micro-batch (crash between sink write and checkpoint commit) merges
    * idempotently: re-merging rows the table already holds matches
    * `s.ts = t.ts AND s.tie = t.tie`, which the strict residual rejects.
    * Tombstone rows are RETAINED as state (a newer-but-older-ts update
    * must lose to them); readers filter them out.
    *
    * The target here is a flat workspace table, so each MERGE is a
    * whole-table copy-on-write ([[graft.sources.WorkspaceDml]] scaladoc) —
    * right for a compacted state table that FITS its directory; a 100 TB
    * hot-upsert sink wants a partitioned/log-structured target under the
    * SAME foreachBatch+compact+MERGE pattern. */
  def runMergeSink(s: SparkSession, chk: String, target: String,
                   keyCol: String, tsCol: String, tieCol: String,
                   statePartitions: Int = 8)(build: => DataFrame): Unit = {
    val query = build.writeStream
      .outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        // batch.sparkSession is the stream's OWN cloned session — sizing
        // the state shuffle there never leaks to concurrent queries on
        // the caller's session (set/restore on the shared conf did)
        batch.sparkSession.conf
          .set("spark.sql.shuffle.partitions", statePartitions.toString)
        val compact = batch.withColumn("__rn", row_number().over(
            Window.partitionBy(col(keyCol))
              .orderBy(col(tsCol).desc, col(tieCol).desc)))
          .filter(col("__rn") === 1).drop("__rn")
        val view = s"__graft_merge_batch_$batchId"
        compact.createOrReplaceTempView(view)
        val setClause = compact.columns.filter(_ != keyCol)
          .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
        batch.sparkSession.sql(
          s"""MERGE INTO $target t USING ${q(view)} s
             |ON t.${q(keyCol)} = s.${q(keyCol)}
             |WHEN MATCHED AND (s.${q(tsCol)} > t.${q(tsCol)}
             |  OR (s.${q(tsCol)} = t.${q(tsCol)} AND s.${q(tieCol)} > t.${q(tieCol)}))
             |  THEN UPDATE SET $setClause
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin): Unit
      }
      .start()
    query.awaitTermination()
  }

  /** [[runMergeSink]] at the 100 TB ingest cost model: each micro-batch
    * publishes a THIN upsert version ([[graft.operators.Sinks.upsertSnapshotRows]])
    * instead of rewriting the state table — per commit the store gains
    * O(batch) bytes (the batch's EFFECTIVE delta: winners strictly newer by
    * (tsCol, tieCol) than the current resolved state), and every
    * micro-batch boundary becomes a pinned, time-travelable version. A
    * replayed micro-batch's winners are already ≤ the current state, so
    * its effective delta is EMPTY and no version is published —
    * exactly-once without a ledger, version history deterministic under
    * replay. Compaction stays the table operator's job
    * ([[graft.operators.Sinks.compactSnapshot]] reads through the chain). */
  def runThinUpsertSink(s: SparkSession, chk: String, tableDir: String,
                        keyCol: String, tsCol: String, tieCol: String,
                        statePartitions: Int = 8)(build: => DataFrame): Unit = {
    val query = build.writeStream
      .outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        import org.apache.spark.sql.expressions.Window
        // scoped to the stream's cloned session (see runMergeSink)
        batch.sparkSession.conf
          .set("spark.sql.shuffle.partitions", statePartitions.toString)
        val bw = batch.withColumn("__rn", row_number().over(
            Window.partitionBy(col(keyCol))
              .orderBy(col(tsCol).desc, col(tieCol).desc)))
          .filter(col("__rn") === 1).drop("__rn")
        val cur = graft.operators.Sinks
          .readSnapshot(batch.sparkSession, tableDir)
          .select(col(keyCol), col(tsCol).as("__cts"), col(tieCol).as("__cid"))
        val eff = bw.join(cur, Seq(keyCol), "left")
          .filter(col("__cts").isNull || col(tsCol) > col("__cts") ||
            (col(tsCol) === col("__cts") && col(tieCol) > col("__cid")))
          .drop("__cts", "__cid")
          .localCheckpoint() // evaluated twice: emptiness probe + publish
        if (!eff.isEmpty)
          graft.operators.Sinks.upsertSnapshotRows(
            batch.sparkSession, tableDir, eff, Seq(keyCol)): Unit
      }
      .start()
    query.awaitTermination()
  }

  /** Streaming ingest into a PARTITIONED SNAPSHOT (r18, VERDICT r17 next
    * #6): each micro-batch lands as ONE fenced
    * [[graft.sources.PartitionedSnapshot.appendRows]] version — O(touched
    * partitions + batch), atomic pointer commit, claim-fenced against
    * concurrent writers. Exactly-once without a side ledger via the q220
    * thin-upsert discipline: effective rows = the batch anti-joined (by
    * `keyCol`) against the CURRENT head restricted to the batch's own
    * partitions, so a REPLAYED batch finds its keys already present and
    * publishes NOTHING (version history untouched under replay) and an
    * empty delta publishes nothing. */
  def runPartitionedAppendSink(s: SparkSession, chk: String, tableDir: String,
                               keyCol: String)(build: => DataFrame): Unit = {
    val query = build.writeStream
      .outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val existing = graft.sources.PartitionedSnapshot
          .readTouchedFor(batch.sparkSession, tableDir, batch.toDF())
          .select(col(keyCol))
        val eff = batch.join(existing, Seq(keyCol), "left_anti")
          .localCheckpoint() // evaluated twice: emptiness probe + publish
        if (!eff.isEmpty)
          graft.sources.PartitionedSnapshot.appendRows(
            batch.sparkSession, tableDir, eff): Unit
      }
      .start()
    query.awaitTermination()
  }

  /** Incremental consumer over a PARTITIONED SNAPSHOT's version history
    * (r18): each call reads ONLY the steps committed since the tiny
    * version-checkpoint file — `changesBetween(lastSeen, committed]`, the
    * metadata-driven diff whose per-step cost is the CHANGED partitions,
    * never the table — appends them tagged with `run` to `outDir`, then
    * advances the checkpoint (temp + atomic rename). A crash before the
    * checkpoint write replays the delta on the next run: the standard
    * offset-commit-after-output at-least-once contract; dedup on
    * (_version, row) where the sink needs exactly-once. Returns the number
    * of version steps consumed. */
  def collectPartitionedChanges(s: SparkSession, tableDir: String,
                                checkpointFile: String, outDir: String,
                                run: Int): Int = {
    val cp = new org.apache.hadoop.fs.Path(checkpointFile)
    // v=1 is the creating write: no change grain
    val lastSeen = graft.sources.MetaFs.read(s, cp).map(_.trim.toInt).getOrElse(1)
    val committed = graft.operators.Sinks.snapshotCommitted(s, tableDir)
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot at $tableDir"))
    if (committed <= lastSeen) return 0
    graft.sources.PartitionedSnapshot
      .changesBetween(s, tableDir, lastSeen, committed)
      .withColumn("run", lit(run))
      .write.mode("append").parquet(outDir)
    graft.sources.MetaFs.replace(s, cp, committed.toString)
    committed - lastSeen
  }

  /** One AvailableNow pass over a snapshot table's CHANGE DATA FEED
    * ([[graft.operators.Sinks.enableChangeFeed]]): the feed directory is a
    * plain parquet FILE STREAM — Spark's own source provides exactly-once
    * discovery through its file log, so re-running on the same checkpoint
    * after new commits reads ONLY the new versions' feed files. Each
    * discovered change row is appended to `outDir` tagged with `run` (the
    * caller's restart counter — the tag makes incremental discovery
    * assertable). */
  def runChangeFeedCollect(s: SparkSession, chk: String, tableDir: String,
                           outDir: String, run: Int): Unit = {
    val schema = graft.operators.Sinks.changeFeedSchema(s, tableDir)
    val query = s.readStream.schema(schema).parquet(s"$tableDir/cdf")
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        b.withColumn("run", lit(run))
          .write.mode("append").parquet(outDir): Unit
      }
      .start()
    query.awaitTermination()
  }

  /** AvailableNow collect of a PARTITIONED workspace table's change feed
    * ([[graft.sources.PartitionChangeFeed]]): one run discovers exactly
    * the statement entries landed since the checkpoint's previous run —
    * exactly-once via the file source's own file log. The glob watches
    * the per-statement `c*` entry dirs; the atomic dir rename-in makes a
    * statement's files appear all-or-nothing. */
  def runPartitionFeedCollect(s: SparkSession, chk: String, tableDir: String,
                              declared: org.apache.spark.sql.types.StructType,
                              outDir: String, run: Int): Unit = {
    val schema =
      graft.sources.PartitionChangeFeed.feedSchema(s, tableDir, declared)
    val root = graft.sources.PartitionChangeFeed.feedRoot(tableDir)
    val query = s.readStream.schema(schema).parquet(s"$root/c*")
      .writeStream.outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        b.withColumn("run", lit(run))
          .write.mode("append").parquet(outDir): Unit
      }
      .start()
    query.awaitTermination()
  }

  /** Land `df` as a single named parquet file inside the directory a file
    * stream is watching. Written to a side dir first, then MOVED in — the
    * source never observes a half-written file, and landing between two
    * [[runUpdateTagged]] runs on the same checkpoint pins micro-batch order
    * deterministically (a multi-file initial listing is discovered in
    * filesystem order, which is NOT deterministic across subdirs). */
  def landFile(df: DataFrame, watchDir: String, name: String): Unit = {
    // Hadoop FileSystem throughout — a watched dir may live on hdfs:// or
    // s3a://, which java.nio/java.io local-path staging cannot reach (the
    // same migration the catalogs made in r10).
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val watch = new org.apache.hadoop.fs.Path(watchDir)
    val fs = watch.getFileSystem(hconf)
    // stage beside the watch dir; at a filesystem root (no parent) stage
    // INSIDE it — the `__`-prefixed dir is invisible to the file source
    val stageBase = Option(watch.getParent).getOrElse(watch)
    val tmp = new org.apache.hadoop.fs.Path(stageBase, s"__stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).toSeq
      .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
    fs.mkdirs(watch)
    val dest = new org.apache.hadoop.fs.Path(watch, s"$name.parquet")
    if (!fs.rename(part.getPath, dest))
      throw new IllegalStateException(s"landFile: rename ${part.getPath} -> $dest failed")
    // drop the staging dir (_SUCCESS/.crc leftovers) — repeated landings
    // must not accumulate junk next to the watched source
    fs.delete(tmp, true): Unit
  }

  /** [[runAvailableNow]]'s skeleton publishing every micro-batch as an
    * ATOMIC SNAPSHOT VERSION ([[graft.operators.Sinks.writeSnapshotAs]],
    * version = batchId + 1): exactly-once end to end with no side ledger —
    * a replayed batch rewrites the same immutable folder and re-swaps the
    * pointer to the same value, and the pointer only moves forward. On top
    * of plain foreachBatch-overwrite this buys (a) readers NEVER observing
    * a half-written sink (the pointer swap is atomic) and (b) time travel
    * across stream progress: v=1 is the state after batch 1, etc. Returns
    * the committed latest. Complete-mode topologies only (each batch's
    * output must BE the whole result for a version to be a snapshot). */
  def runSnapshotPublish(s: SparkSession, tableDir: String, chk: String,
                         statePartitions: Int = 8,
                         noDataBatch: Boolean = false,
                         probe: Long => Unit = _ => (),
                         sinkFiles: Int = 1)
                        (build: => DataFrame): DataFrame = {
    graft.Session.withConfs(s,
        "spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString) {
      val query = build.writeStream
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          // the probe runs DRIVER-SIDE while this micro-batch's version is
          // in flight (its folder not yet written, pointer on batchId) —
          // the hook q192 uses to prove mid-stream readers only ever see
          // committed versions
          probe(batchId)
          // Output-file sizing (guide §6): a complete-mode batch arrives in
          // `statePartitions` post-shuffle slices, so each published version
          // would land that many near-empty files (and every later read
          // lists + footer-reads all of them). Complete-mode output is
          // cardinality-bounded by construction — coalesce (no shuffle) to
          // `sinkFiles`; topologies with genuinely large complete-mode
          // results pass a larger value.
          graft.operators.Sinks.writeSnapshotAs(batch.coalesce(sinkFiles),
            tableDir, (batchId + 1).toInt): Unit
        }
        .start()
      query.awaitTermination()
    }
    graft.operators.Sinks.readSnapshot(s, tableDir)
  }

  /** Tumbling-window aggregate per event type. Batch and streaming share this
    * plan shape; on a stream add `withWatermark("ts", ...)` upstream. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization per user (session_window, 30 min gap), then
    * per-user session stats. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  def userSessionStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    userSessions(events, gap)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))

  /** Per-SESSION rows (user, session start, last event ts, event count) —
    * the row-level face of [[userSessionStats]], shared by batch and
    * streaming: on a stream, session_window is Spark's native stateful
    * session operator (state = open sessions; complete mode needs no
    * watermark, append mode takes one upstream to bound state and emit
    * closed sessions). `last_ts` is the max event ts, not the window end
    * (which is last_ts + gap by construction). */
  def sessionStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("last_ts"), col("n_events"))

  /** Streaming variant with watermark — used by the streaming spec. */
  def hourlyByTypeStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    hourlyByType(events.withWatermark("ts", watermark))

  /** JSON prop extraction (the `props` column is a JSON string). */
  def withJsonProp(events: DataFrame, key: String, as: String): DataFrame =
    events.withColumn(as, get_json_object(col("props"), s"$$.$key").cast("long"))

  /** Streaming exact dedup: drop duplicate keys with state bounded by the
    * watermark (`dropDuplicatesWithinWatermark`) — the streaming face of
    * [[graft.operators.Dedup.exact]]. State holds only keys younger than the
    * watermark, so an unbounded stream runs in bounded memory. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup drop: the streaming face of the MinHash/LSH stack.
    * Each document gets its K-hash MinHash signature (one compiled pass,
    * [[graft.functions.TextHashExprs.minhashSig]]) and is dropped if ANY
    * earlier in-watermark document shared the full signature — i.e. the
    * single-band LSH collision rule, the streaming analog of
    * [[graft.operators.Dedup.lshCandidatePairs]] with bands=1. State is the
    * signature set younger than the watermark (K·8 bytes per doc, bounded);
    * the text itself is never stored. More bands (higher recall) = union
    * several of these with per-band signature slices. */
  def nearDupDropStream(docs: DataFrame, textCol: String, tsCol: String,
                        k: Int = 8, w: Int = 5,
                        watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__sig",
        graft.functions.TextHashExprs.minhashSig(col(textCol), w, k))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__sig"))
      .drop("__sig")

  /** Stream-stream equi-join with an event-time bound: a right-side row
    * matches left-side rows whose timestamp is in
    * `[right.ts − within, right.ts]` (the click-joins-impression pattern).
    * Watermarks on BOTH inputs + the time-range predicate let Spark bound
    * the join state: buffered rows older than watermark + bound are evicted,
    * so an unbounded stream joins in bounded memory. Column names must be
    * disjoint apart from the key. `joinType` supports inner, left_outer,
    * right_outer and full_outer; outer rows null-pad when the watermark
    * closes their join window (StreamingSpec covers left and full). */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTs: String, rightTs: String,
                       within: String = "1 hour",
                       watermark: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"interval $within"),
      joinType)
  }

  // ---- custom state (Spark 4 API): transformWithState ---------------------

  /** Per-user running event count via `transformWithState` — the current
    * arbitrary-state API (typed `ValueState`, RocksDB-backed, TTL-capable).
    * Emits (user_id, running_count) every microbatch a user appears in.
    * State is one long per user; with a `TTLConfig` instead of NONE, idle
    * users expire without a watermark. Requires the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass`). */
  class RunningCountProcessor extends StatefulProcessor[Long, SessionEvent, (Long, Long)] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                 timerValues: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single((key, n))
    }
  }

  def runningCounts(events: Dataset[SessionEvent]): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ---- custom state: flatMapGroupsWithState sessionization ----------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long)

  /** Gap sessionization with CUSTOM state (`flatMapGroupsWithState`) — the
    * escape hatch for session semantics `session_window` can't express
    * (per-session emission on close, arbitrary state payloads). Gap semantics
    * match `session_window`/q61: events ≤ gap apart merge; strictly > gap
    * starts a new session. Sessions emit when a later event closes them or
    * when the event-time watermark passes session_end + gap (state timeout),
    * so state size is bounded by ACTIVE sessions only — the property that
    * keeps this runnable on an unbounded 100-TB/day stream.
    *
    * Input must carry a watermark on `ts` when streaming. Works identically
    * on a batch Dataset (all groups fold at once, no timeouts). */
  def sessionizeWithState(events: Dataset[SessionEvent],
                          gap: java.time.Duration = java.time.Duration.ofMinutes(30))
                         : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gap.toMillis
    val streaming = events.isStreaming // capture the Boolean, not the Dataset
    def close(user: Long, s: SessionState): SessionOut =
      SessionOut(user, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val done = close(user, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  out += close(user, s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (streaming) state.setTimeoutTimestamp(s.end + gapMs)
            }
            out.iterator
          }
      }
  }
}
