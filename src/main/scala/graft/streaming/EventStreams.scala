package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.3 "Streaming").
  *
  * Replaces the reference's timer-driven interim-checkpoint loop
  * (`container/Heartbeat.java:150-242`, AM monitor
  * `AM/ApplicationMaster.java:2902-2925`) with real event-time processing:
  * watermarks bound state, windowed aggregates emit on watermark advance, and
  * `flatMapGroupsWithState` holds custom per-key session state. The same
  * aggregation expressions run in batch (operators.Temporal) — one semantic,
  * two execution modes.
  *
  * One def per §2.3 streaming feature: a rate source ([[rateEvents]]),
  * tumbling and sliding windows, `session_window`, a stream-stream interval
  * join, watermark-bounded dedup and bounded keyed state. The one durable
  * stream is [[maintainZoneMapStream]]: an idempotent, ledger-committed
  * append that folds the directory's zone-map manifest forward per batch.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** Built-in rate source as a synthetic event stream (SURVEY §2.3
    * "Streaming source"): maps (timestamp, value) onto the events schema so
    * every operator here runs against it unchanged — the load-generator
    * analog of the reference's stream-fed training input. */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(50)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase"), lit("error")),
          (pmod(col("value"), lit(4)) + 1).cast("int")).as("event_type"),
        round(pmod(col("value") * lit(7919), lit(1000)) / lit(100.0), 2).as("value"))

  /** Tumbling 1-hour event-time aggregate with a 2-hour watermark: late rows
    * beyond the watermark are dropped, state is bounded. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("value_sum"))

  /** Sliding 1-hour windows every 30 minutes: each event lands in two
    * overlapping windows (window explode is map-side; the aggregate still
    * shuffles once on the window+type key). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** q122's streaming form: session_window(gap) IS the idle-gap island —
    * a next event landing EXACTLY on the closing boundary still merges
    * (measured behavior), i.e. a new session opens only when the gap
    * strictly exceeds `gap` — exactly q122's strict-> opens rule, so on
    * closed input this emits q122's sessions row for row (StreamingSpec
    * pins it, boundary gap planted).
    * collect_set over the small event-type alphabet stands in for the
    * streaming-unsupported countDistinct (bounded state); value_sum
    * follows the one-rounded-aggregate rule. State per key is one open
    * session; the watermark closes and evicts sessions whose gap has
    * provably passed. */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"),
        size(collect_set(col("event_type"))).cast("long").as("n_types"),
        (round(sum(col("value")), 4) + lit(0.0)).as("value_sum"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"),
        col("n_types"), col("value_sum"),
        (col("end_us") - col("start_us")).as("duration_us"))

  /** Stream-stream interval join: purchases within 1 hour after an error by
    * the same user (streaming analog of operators.Temporal.q25RangeJoin).
    * Both sides carry watermarks and the join condition bounds event time on
    * both sides, so each side's buffered state is evictable — the shape that
    * keeps stream-stream joins bounded-memory at scale. */
  def errorPurchaseJoin(errors: DataFrame, purchases: DataFrame): DataFrame = {
    val e = errors
      .withWatermark("ts", "2 hours")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    val p = purchases
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    e.join(p,
      col("e_user") === col("p_user") &&
        col("p_ts") > col("e_ts") &&
        col("p_ts") <= col("e_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("error_id"), col("e_user").as("user_id"), col("e_ts"), col("p_ts"), col("value"))
  }

  /** Exactly-once-per-id event stream: drops re-deliveries of an event_id
    * arriving within the watermark horizon — the streaming counterpart of
    * d01 exact dedup, and the idempotence layer an at-least-once upstream
    * needs (the reference re-streams records wholesale when a container
    * retries an epoch, `container/HboxContainer.java:1158-1199`; a
    * downstream consumer sees duplicates unless something holds this line).
    *
    * State is per-id but watermark-BOUNDED: `dropDuplicatesWithinWatermark`
    * evicts an id's tombstone once the watermark passes its event time, so
    * state ∝ ids-per-horizon, not all-time ids — a plain streaming
    * `dropDuplicates` would grow forever. At 100 TB/day the horizon is the
    * knob: it must cover the upstream's maximum re-delivery lag only. */
  def dedupedEvents(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark("event_id")

  /** Streaming zone-map manifest maintenance — the metadata layer kept
    * current WHILE the ingest stream writes: each micro-batch lands its
    * rows as new parquet files under `dir`, then the directory's record in
    * the session that defined the stream (`rowStream`'s, whose queries
    * read `dir`; not the streaming query's own clone) folds forward
    * ([[graft.sources.ZoneMaps.foldRows]] over
    * [[graft.sources.ZoneMaps.incrementalBuild]]) — the one listing serves
    * both sides, only the batch's NEW files are read (footers, or a scan
    * for bloom columns; per-file stats are immutable, so the merge is row
    * union),
    * and the maintained manifest equals a from-scratch build of the
    * directory after every batch (spec-pinned). `bloomCols` maintains the
    * MEMBERSHIP grade under the same contract (a file's key bloom is as
    * immutable as its envelope). This is the p58/p21 mergeable-maintenance
    * discipline at the file grain: a query session loading the manifest
    * ([[graft.sources.ZoneMaps.loadManifest]]) prunes against data that
    * landed seconds ago without any ingest-side coordination beyond the
    * append. `onBatch` receives (manifest rows, batchId).
    *
    * Idempotent commit (the exactly-once half foreachBatch leaves to the
    * sink): the batch writes to a hidden staging dir (underscore-prefixed
    * — invisible to Spark's listing), then each part renames to a
    * batchId-DETERMINISTIC name, skipping names that already exist — so a
    * replayed micro-batch (identical content by the Structured Streaming
    * replay contract) re-lands the SAME file names instead of appending
    * duplicates, and a crash mid-commit completes on retry. Only then
    * does the manifest fold forward, so it never indexes a half-committed
    * batch as final. */
  def maintainZoneMapStream(rowStream: DataFrame, dir: String,
                            cols: Seq[String],
                            onBatch: (Array[Row], Long) => Unit,
                            bloomCols: Seq[String] = Nil): DataStreamWriter[Row] = {
    val owner = rowStream.sparkSession
    rowStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        idempotentBatchAppend(dir, batch, batchId)
        // the standing manifest IS `dir`'s record in the defining session
        // (`batch.sparkSession` is the query's own clone, which no reader
        // of `dir` uses): its transparent scans consult rows that know the
        // new files instead of riding the stale guard; the batch's schema
        // types the first fold's scan, which has no standing rows to
        val updated = graft.sources.ZoneMaps.foldRows(
          owner, dir, cols, bloomCols, Some(batch.schema))
        onBatch(updated, batchId)
      }
  }

  /** [[maintainZoneMapStream]]'s commit step, factored out so the
    * idempotence contract is directly testable — idempotent at BATCH
    * granularity, not per part: an underscore-prefixed (listing-invisible)
    * marker file `_graft_committed_b<batchId>` is written only after
    * every part of the batch has renamed into place, and a call that
    * finds the marker is a pure no-op. Per-part skip-if-exists alone is
    * NOT idempotent: a replayed micro-batch that stages a different part
    * count or row-to-part split (changed parallelism, AQE, a crash
    * between renames) would mix old and new index-named parts and
    * duplicate or drop rows. With the marker: a replay after commit lands
    * zero files regardless of how it partitions; a retry after a crash
    * MID-commit (no marker) first clears the half-renamed `b<batchId>-*`
    * leftovers, then lands the full staged set — the directory ends with
    * exactly one copy of the batch either way. */
  private[graft] def idempotentBatchAppend(dir: String, batch: DataFrame,
                                           batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b$batchId%06d")
    val staging = new org.apache.hadoop.fs.Path(dir, s"_graft_staging_b$batchId")
    if (committedBatchIds(fs, dir).contains(batchId)) {
      fs.delete(staging, true); return
    }
    batch.write.mode("overwrite").parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    // marker absent => the batch never committed; any b<batchId> parts are
    // a crashed attempt's leftovers and must go before the fresh renames
    // (a differently-partitioned retry would otherwise interleave sets)
    fs.globStatus(new org.apache.hadoop.fs.Path(dir, f"b$batchId%06d-*.parquet"))
      .foreach(s => fs.delete(s.getPath, false))
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = new org.apache.hadoop.fs.Path(dir, f"b$batchId%06d-$i%05d.parquet")
      // rename failures must be LOUD: a silent false here would drop the
      // staged part when the staging dir is deleted below (the staging
      // dir lives inside `dir`, so same-filesystem rename is guaranteed)
      require(fs.rename(p.getPath, dst),
        s"idempotentBatchAppend: rename ${p.getPath} -> $dst failed")
    }
    require(fs.createNewFile(marker),
      s"idempotentBatchAppend: marker $marker already exists mid-commit")
    fs.delete(staging, true)
    compactCommitMarkers(fs, dir)
    ()
  }

  private val LedgerName = "_graft_commits"

  /** Every committed batchId discoverable in `dir`: the ledger as
    * [[graft.sources.DurableSwap.resolve]] serves it (the ledger, or the
    * copy a crashed compaction parked) plus any standing per-batch marker
    * files. An id loses its marker only after a compaction has swapped a
    * ledger naming it into place, so the union names every committed id
    * at every crash point. */
  private[graft] def committedBatchIds(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: String): Set[Long] = {
    val ledger = graft.sources.DurableSwap.resolve(
      fs, new org.apache.hadoop.fs.Path(dir, LedgerName))
    val ledgerIds: Set[Long] =
      if (!fs.exists(ledger)) Set.empty
      else {
        val in = fs.open(ledger)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        // accept only SELF-VALIDATING lines: a crash mid-write can tear the
        // final line into a numeric PREFIX of a real id ('123' → '12'),
        // which would read as a phantom committed id and silently skip that
        // batch on replay. The ledger writes fixed-width 20-digit ids, so a
        // torn new-format line is short and rejected; legacy unpadded lines
        // are accepted only when newline-TERMINATED (only the final,
        // unterminated chunk of a file can be torn). A swapped-in ledger is
        // complete, so this only guards against a filesystem that tears.
        val chunks = txt.split("\n", -1)
        chunks.iterator.zipWithIndex.flatMap { case (raw, i) =>
          val l = raw.stripSuffix("\r").trim
          val terminated = i < chunks.length - 1
          if (l.length == 20 && l.forall(_.isDigit))
            scala.util.Try(l.toLong).toOption
          else if (terminated && l.nonEmpty && l.length < 20 &&
              l.forall(_.isDigit))
            scala.util.Try(l.toLong).toOption
          else None
        }.toSet
      }
    val markers = fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "_graft_committed_b*"))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("_graft_committed_b").toLong).toOption)
      .toSet
    markers ++ ledgerIds
  }

  /** Fold per-batch commit markers into the single `_graft_commits` ledger
    * (one line per batchId) so a long-running stream keeps O(1) commit
    * objects in the directory instead of one marker file per micro-batch
    * (~500k/year at a batch a minute — every listStatus/globStatus walks
    * them and object stores bill the LIST). The marker file stays the
    * atomic COMMIT POINT (createNewFile); this compaction runs after it.
    * Crash-safe by ordering: (1) replace the ledger with one naming every
    * known id through [[graft.sources.DurableSwap.replace]], (2) delete the
    * folded markers. Until (1) completes every id is named by a marker or
    * by the old ledger (possibly parked); after it, by the new ledger —
    * [[committedBatchIds]] reads the union. All names, the swap's siblings
    * included, are underscore-prefixed: listing-invisible to Spark scans. */
  private[graft] def compactCommitMarkers(fs: org.apache.hadoop.fs.FileSystem,
                                          dir: String): Unit =
    compactCommitMarkersOf(fs, dir, committedBatchIds(fs, dir))

  /** The compaction step over an EXPLICIT id snapshot — factored out so
    * the snapshot/delete race is directly testable: a marker that lands
    * after the snapshot was taken must survive the delete step below. */
  private[graft] def compactCommitMarkersOf(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      ids: Set[Long]): Unit = {
    if (ids.isEmpty) return
    graft.sources.DurableSwap.replace(
        fs, new org.apache.hadoop.fs.Path(dir, LedgerName)) { scratch =>
      val out = fs.create(scratch, true)
      // fixed-width 20-digit ids: self-validating against torn tails (see
      // [[committedBatchIds]] — a torn prefix of a padded id is short and
      // rejected instead of parsing as a smaller phantom id)
      try out.write(ids.toSeq.sorted.map(id => f"$id%020d")
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // delete ONLY the markers belonging to the snapshot `ids` just folded
    // (names are derivable from the ids): a concurrent writer landing its
    // marker between the snapshot and this delete keeps its only commit
    // record — a re-glob here would silently unrecord that batch and a
    // replay would append duplicate rows
    ids.foreach { id =>
      fs.delete(
        new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b$id%06d"),
        false)
    }
    ()
  }

  final case class SessionFlush(user_id: Long, n_events: Int,
                                total_value: Double, evicted: Boolean)

  /** Custom keyed state with BOUNDED size: per-user running totals, re-emitted
    * each batch the key appears in, and an event-time timeout that evicts a
    * user's state once the watermark passes last-event-time + `idleGapMs`,
    * emitting a final `evicted = true` flush row. The state store then holds
    * only recently-active keys instead of every key ever seen — at scale the
    * difference between state ∝ active users and state ∝ all-time users. */
  def statefulPerUserBounded(spark: SparkSession, events: Dataset[Event],
                             idleGapMs: Long = 60 * 60 * 1000L): Dataset[SessionFlush] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Double, Long), SessionFlush](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid: Long, rows: Iterator[Event], state: GroupState[(Int, Double, Long)]) =>
          if (state.hasTimedOut) {
            val (n, v, _) = state.get
            state.remove()
            Iterator(SessionFlush(uid, n, v, evicted = true))
          } else {
            val (n0, v0, maxTs0) = state.getOption.getOrElse((0, 0.0, Long.MinValue))
            var n = n0; var v = v0; var maxTs = maxTs0
            rows.foreach { e => n += 1; v += e.value; maxTs = math.max(maxTs, e.ts.getTime) }
            state.update((n, v, maxTs))
            // the deadline derives from the max event time EVER SEEN (kept
            // in state), not just this batch's max: a late-but-valid batch
            // must never move the eviction deadline backwards and split a
            // live session
            state.setTimeoutTimestamp(maxTs + idleGapMs)
            Iterator(SessionFlush(uid, n, v, evicted = false))
          }
      }
  }
}
