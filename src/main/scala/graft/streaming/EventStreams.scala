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
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Int, total_value: Double)

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

  /** Streaming decontamination quarantine: a document STREAM checked
    * against a STATIC eval corpus — Structured Streaming's stream-static
    * join (the static side is re-planned per micro-batch and broadcast
    * when small, exactly p02's broadcast shape per batch). Emits each
    * contaminated doc_id once: the shingle explode is map-side, the
    * semi-join against the static shingle set is stateless, and the only
    * state is the dedup tombstone bounded by the watermark horizon (a doc
    * hit by many shingles must still quarantine once). The clean corpus
    * remains a batch concern (operators.DataPipeline.decontaminate) — a
    * stream can only ever prove contamination, never a doc's absence from
    * a set that future batches cannot extend. */
  def contaminatedDocIds(docStream: DataFrame, evalDocs: DataFrame,
                         k: Int = 8, horizon: String = "2 hours"): DataFrame = {
    val evalShingles = graft.dedup.Dedup.shingleSets(evalDocs, k)
      .select("shingle").distinct()
    docStream
      .withWatermark("ts", horizon)
      // bind toks to an attribute first — HOF lambdas re-evaluate captured
      // expressions per element (see TextFns.shingleHashesOfTokens)
      .select(col("doc_id"), col("ts"),
        graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("ts"),
        explode(graft.functions.TextFns.shingleHashesOfTokens(col("toks"), k)).as("shingle"))
      .join(evalShingles, Seq("shingle"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))
  }

  /** Streaming admission — the d08 incremental-dedup flow against a live
    * document stream: drop any doc whose normalized fingerprint exists in
    * the STANDING corpus (stream-static anti join, stateless) and admit
    * each new fingerprint once within the watermark horizon (bounded
    * dedup state). Divergence from batch d08, by contract: within the
    * stream, ARRIVAL order wins, not smallest doc_id — a stream has no
    * retrospective minimum. */
  def admittedDocs(docStream: DataFrame, standing: DataFrame,
                   horizon: String = "2 hours"): DataFrame = {
    val seen = standing
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    docStream
      .withWatermark("ts", horizon)
      .select(col("doc_id"), col("ts"),
        graft.functions.TextFns.fingerprint(col("text")).as("fingerprint"))
      .join(seen, Seq("fingerprint"), "left_anti")
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col("doc_id"), col("ts"), col("fingerprint"))
  }

  /** Streaming NEAR-dup admission — the d10 flow against a live stream,
    * per micro-batch via `foreachBatch`. A continuous-query form is
    * impossible by plan class: d10 needs a signature aggregation on the
    * stream side, a candidate join and a verify aggregation — more than
    * streaming's single-aggregation budget — so `foreachBatch` is the
    * documented escape hatch, and each micro-batch runs the full batch
    * operator (LSH probe + exact verify, precision 1) against the
    * STANDING corpus. Contract matches d10: batch-internal near-dups are
    * not resolved (compose d03+d07 downstream), and admission is against
    * the standing corpus as of query start — appending admitted docs back
    * into `standing` across batches is the caller's choice of sink.
    * `onBatch` receives (admitted doc_ids, batchId). */
  def admitNearDupsStream(docStream: DataFrame, standing: DataFrame,
                          onBatch: (DataFrame, Long) => Unit,
                          threshold: Double = 0.8): DataStreamWriter[Row] =
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(
          graft.dedup.Dedup.incrementalNearDup(
            standing, batch.select(col("doc_id"), col("text")), threshold),
          batchId)
      }

  /** Streaming d21 — edit-distance admission per micro-batch, the
    * [[admitNearDupsStream]] sibling for the short-text regime: each
    * batch runs the full cross-side blocked-Levenshtein operator against
    * the STANDING corpus (blocking exact, so the per-batch decision is
    * the brute-force one). Same contract: batch-internal edit-dups
    * unresolved, standing as of query start unless the caller sinks
    * admissions back. `onBatch` receives (admitted doc_ids, batchId). */
  def admitEditDupsStream(docStream: DataFrame, standing: DataFrame,
                          onBatch: (DataFrame, Long) => Unit,
                          maxDist: Int = 32): DataStreamWriter[Row] =
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(
          graft.dedup.Dedup.incrementalEditDup(
            standing, batch.select(col("doc_id"), col("text")), maxDist),
          batchId)
      }

  /** Streaming d24 — embedding admission per micro-batch, the
    * [[admitNearDupsStream]] sibling for the VECTOR modality: each batch
    * runs the full cross-side SRP-candidate + exact-cosine operator
    * against the STANDING embedding corpus. Same contract as the other
    * admission streams: batch-internal near-dups unresolved (s13+d07's
    * job on the admitted set), standing as of query start unless the
    * caller sinks admissions back. `onBatch` receives (admitted vec_ids,
    * batchId). */
  def admitEmbeddingsStream(vecStream: DataFrame, standing: DataFrame,
                            onBatch: (DataFrame, Long) => Unit,
                            threshold: Double = 0.45): DataStreamWriter[Row] =
    vecStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(
          graft.similarity.Srp.admitEmbeddings(
            standing, batch.select(col("vec_id"), col("embedding")), threshold),
          batchId)
      }

  /** Streaming m04 admission — perceptual dedup of a media INGEST stream:
    * each micro-batch of (doc_id, payload) rows is decoded and sketched to
    * 64-bit perceptual hashes (partition-local, the m04 path), then the
    * admission decision probes the STANDING phash table — 8 bytes/item,
    * the durable media index, never the media bytes —
    * via [[graft.multimodal.Multimodal.admitByPhash]]'s banded cross join.
    * The callback receives per-item verdicts (dup-of-standing,
    * dup-in-batch, admitted); a caller who appends admitted hashes back
    * into standing's source gets batch-to-batch coverage too (the
    * maintainClustersStream contract — with a static standing frame,
    * cross-batch dups are out of contract). Per-batch cost ∝ batch:
    * decode and banding touch only batch rows. */
  def admitMediaStream(mediaStream: DataFrame, standingHashes: DataFrame,
                       onBatch: (DataFrame, Long) => Unit,
                       maxHamming: Int = 3): DataStreamWriter[Row] =
    mediaStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hashes = graft.multimodal.Multimodal
          .imageHashes(batch.sparkSession, batch).toDF()
        onBatch(graft.multimodal.Multimodal
          .admitByPhash(standingHashes, hashes, maxHamming), batchId)
      }

  /** Streaming d15 — duplicate-cluster maintenance against a live document
    * stream, per micro-batch via `foreachBatch` (the d10 escape-hatch
    * class: pair generation + the merge closure exceed streaming's
    * single-aggregation budget). Each batch computes the near-dup pairs
    * INCIDENT to the batch — cross pairs against `standing` (the banded
    * MinHash probe, exact verify) plus the batch's internal d03 pairs —
    * and merges them into the RUNNING label table with
    * [[graft.dedup.Clusters.mergeClusters]]: cost ∝ batch pairs + touched
    * components, never the accumulated duplication history (the d15
    * property). The merged labels are materialized and lineage-truncated
    * every batch (eager localCheckpoint), so the carried state is a
    * bounded table, not a per-batch-growing plan — the structural
    * requirement for a long-running maintenance query.
    *
    * Contract: `standing` is re-evaluated each batch, so a caller who
    * sinks every admitted batch back into standing's source (the d10
    * appending pattern) gets batch-to-batch pairs covered too; with a
    * static standing frame, cross-BATCH pairs are out of contract.
    * `onBatch` receives (merged label table, batchId). */
  def maintainClustersStream(docStream: DataFrame, standing: DataFrame,
                             initialLabels: DataFrame,
                             onBatch: (DataFrame, Long) => Unit,
                             threshold: Double = 0.8): DataStreamWriter[Row] = {
    val labels = new java.util.concurrent.atomic.AtomicReference(initialLabels)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col("doc_id"), col("text"))
        val pairs = graft.dedup.Dedup
          .crossNearDupPairs(standing, docs, threshold)
          .select(col("d1"), col("d2"))
          .unionByName(graft.dedup.Dedup.minHashLshPairs(docs, threshold)
            .select(col("d1"), col("d2")))
        val merged = graft.dedup.Clusters.mergeClusters(labels.get, pairs)
          .localCheckpoint(true)
        labels.set(merged)
        onBatch(merged, batchId)
      }
  }

  /** Streaming p21 — shard-manifest maintenance as documents land. The
    * manifest's aggregates are all MERGEABLE: counts add, id ranges
    * min/max, and the content checksum is bit_xor — associative and
    * commutative, so folding batch manifests into the standing one is
    * EXACTLY the batch manifest of the union (spec-pinned), with per-batch
    * cost ∝ batch (the standing corpus is never rescanned — the d15
    * property, here achieved by algebra instead of graph contraction).
    * State is one nShards-row table, localCheckpoint-materialized per
    * batch. `onBatch` receives (merged manifest, batchId). */
  def maintainManifestStream(docStream: DataFrame, initial: DataFrame,
                             onBatch: (DataFrame, Long) => Unit,
                             nShards: Int = 16): DataStreamWriter[Row] = {
    val manifest = new java.util.concurrent.atomic.AtomicReference(initial)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mb = graft.operators.DataPipeline.shardManifest(
          batch.select(col("doc_id"), col("text")), nShards)
        val merged = manifest.get.unionByName(mb)
          .groupBy(col("shard"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("min_doc_id")).as("min_doc_id"),
            max(col("max_doc_id")).as("max_doc_id"),
            org.apache.spark.sql.functions.bit_xor(col("content_checksum"))
              .as("content_checksum"))
          .localCheckpoint(true)
        manifest.set(merged)
        onBatch(merged, batchId)
      }
  }

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
        // new files instead of riding the stale guard
        val updated = graft.sources.ZoneMaps.foldRows(
          owner, dir, cols, bloomCols)
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

  /** Streaming t38 — Count-Min sketch maintenance: each micro-batch's
    * (d, bucket, c) counter table folds into the standing depth×width
    * state by plain ADDITION (counters of a union are the sum of the
    * sides' counters — CMS's defining mergeability, the same algebra as
    * maintainManifestStream's sums), so per-batch cost ∝ batch tokens
    * with no standing rescan and the final state is spec-pinned EQUAL to
    * the batch counters of the union. State is ≤ depth·width rows,
    * localCheckpoint-materialized per batch. */
  def maintainCmsStream(docStream: DataFrame, initial: DataFrame,
                        onBatch: (DataFrame, Long) => Unit,
                        width: Int = 1024, depth: Int = 4): DataStreamWriter[Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference(initial)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cb = graft.operators.TextQueries.cmsCounters(
          batch.select(col("doc_id"), col("text")), width, depth)
        val merged = state.get.unionByName(cb)
          .groupBy(col("d"), col("bucket"))
          .agg(sum(col("c")).as("c"))
          .localCheckpoint(true)
        state.set(merged)
        onBatch(merged, batchId)
      }
  }

  /** Streaming p57/p58 — chunk-census maintenance against a live document
    * stream: each micro-batch is chunked and aggregated ALONE (cost ∝
    * batch — the p58 ingestion flow as a stream), then folds into the
    * standing census by count ADDITION (chunk counts of a union are the
    * sum of the sides' counts — the maintainCmsStream algebra at the
    * retrieval-chunk grain). The batch callback sees the full census, so
    * an indexer can skip re-encoding any hash whose count merely grew.
    * Final state is spec-pinned EQUAL to batch [[graft.operators
    * .DataPipeline.chunkCensus]] over the union of every batch. State is
    * hash-keyed (high-cardinality, skew-free), localCheckpoint-
    * materialized per batch; at 100 TB the standing census lives bucketed
    * on disk and this fold is the p58 broadcast probe instead. */
  def maintainChunkCensusStream(docStream: DataFrame, initial: DataFrame,
                                onBatch: (DataFrame, Long) => Unit,
                                width: Int = 800,
                                stride: Int = 600): DataStreamWriter[Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference(initial)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cb = graft.operators.DataPipeline.chunkCensus(
          batch.select(col("doc_id"), col("text")), width, stride)
        val merged = state.get.unionByName(cb)
          .groupBy(col("chunk_hash"))
          .agg(sum(col("n_chunks")).as("n_chunks"))
          .localCheckpoint(true)
        state.set(merged)
        onBatch(merged, batchId)
      }
  }

  /** Streaming p22 — quality-drift monitoring against a live document
    * stream: each micro-batch's 0.1-bucket quality histogram folds into
    * the standing observed histogram (counts are mergeable — the
    * maintainManifestStream algebra), and the batch callback receives the
    * full p22 drift frame of REFERENCE vs OBSERVED-SO-FAR. This is the
    * ingestion-time alarm (a scraper regression shows up as total
    * variation climbing batch over batch) whose final state is spec-pinned
    * EQUAL to running batch p22 over the union of every batch. State is
    * the ≤ 11-row histogram, localCheckpoint-materialized per batch. */
  def monitorDriftStream(docStream: DataFrame, reference: DataFrame,
                         onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val refHist = graft.operators.DataPipeline.qualityHistogram(reference)
      .localCheckpoint(true)
    val observed = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hb = graft.operators.DataPipeline.qualityHistogram(
          batch.select(col("doc_id"), col("text")))
        val merged = Option(observed.get) match {
          case None => hb.localCheckpoint(true)
          case Some(standing) => standing.unionByName(hb)
            .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
            .localCheckpoint(true)
        }
        observed.set(merged)
        onBatch(graft.operators.DataPipeline.histogramDrift(refHist, merged), batchId)
      }
  }

  /** Streaming q105 — live peak-concurrency monitoring: each micro-batch
    * reduces to its (day, instant) net-delta/starts frame (scan-local +
    * one batch-sized aggregation), folds into the standing delta state by
    * plain summation (the q105 mergeable algebra — boundary deltas at the
    * same instant add), and the batch callback receives the full per-day
    * concurrency report re-swept from the folded state. Days older than
    * `retainDays` behind the newest day seen are dropped from state, so
    * state is bounded by retainDays × distinct boundary instants per day
    * — the capacity dashboard's live window, while closed days' reports
    * ship before they age out. Final retained-window state is spec-pinned
    * EQUAL to batch q105 over the union of every batch. */
  def monitorConcurrencyStream(eventStream: DataFrame,
                               onBatch: (DataFrame, Long) => Unit,
                               retainDays: Int = 7): DataStreamWriter[Row] = {
    require(retainDays > 0, s"retainDays=$retainDays must be > 0")
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    eventStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val db = graft.operators.Relational5.concurrencyDeltas(
          batch.select(col("event_id"), col("ts")))
        val folded = Option(state.get) match {
          case None => db
          case Some(standing) => standing.unionByName(db)
            .groupBy(col("day"), col("t"))
            .agg(sum(col("net")).as("net"), sum(col("starts")).as("starts"))
        }
        val horizon = folded.agg(max(col("day")).as("maxd"))
        val merged = folded
          .crossJoin(broadcast(horizon))
          .filter(datediff(col("maxd"), col("day")) < retainDays)
          .drop("maxd")
          .localCheckpoint(true)
        state.set(merged)
        onBatch(graft.operators.Relational5.concurrencyReport(merged), batchId)
      }
  }

  /** Streaming q108 — live recency scoring with EXACTLY bounded state:
    * the dyadic decay floors at 1 beyond 20 days, so all days older than
    * the horizon are SCORE-EQUIVALENT — per user they roll up to one row
    * keeping (max day, total count), which preserves every q108 output
    * (n_events by count sum, last_seen by max, score because each old
    * event contributes exactly 1 regardless of its day). State is
    * therefore ≤ 21 rows + 1 rollup row per user with NO approximation —
    * the reason the shift decay was chosen over exp(−λt), which never
    * stops distinguishing ages and forces either unbounded state or
    * drift. Each micro-batch folds (user, day) counts by summation (the
    * q105 monitor's algebra) and the callback receives the full q108
    * report against the stream's current anchor day. Spec-pinned EQUAL
    * to batch q108 over the union of every batch. */
  def monitorRecencyStream(eventStream: DataFrame,
                           onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    eventStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val db = batch
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
        val folded = Option(state.get) match {
          case None => db
          case Some(standing) => standing.unionByName(db)
            .groupBy(col("user_id"), col("day")).agg(sum(col("cnt")).as("cnt"))
        }
        val anchor = folded.agg(max(col("day")).as("anchor"))
        val tagged = folded.crossJoin(broadcast(anchor))
        val recent = tagged.filter(datediff(col("anchor"), col("day")) <= 20)
          .select(col("user_id"), col("day"), col("cnt"))
        val rolled = tagged.filter(datediff(col("anchor"), col("day")) > 20)
          .groupBy(col("user_id"))
          .agg(max(col("day")).as("day"), sum(col("cnt")).as("cnt"))
          .select(col("user_id"), col("day"), col("cnt"))
        val merged = recent.unionByName(rolled).localCheckpoint(true)
        state.set(merged)
        val report = merged.crossJoin(broadcast(anchor))
          .select(col("user_id"), col("cnt"), col("day"),
            datediff(col("anchor"), col("day")).as("age_d"))
          .groupBy(col("user_id"))
          .agg(sum(col("cnt")).as("n_events"),
            date_format(max(col("day")), "yyyy-MM-dd").as("last_seen"),
            sum(col("cnt") *
              expr("shiftright(1048576L, cast(least(age_d, 20) as int))"))
              .as("recency_score"))
        onBatch(report, batchId)
      }
  }

  /** Streaming p24 — stratified-holdout maintenance as documents land.
    * The per-source min-k selection is MERGEABLE (the top-k of a union is
    * the top-k of the two sides' top-ks — the heap's own algebra, the
    * p21/p22 mergeable-state family), so each micro-batch reduces to its
    * own sources×k candidate frame and folds into the standing one:
    * per-batch cost ∝ batch, the corpus is never rescanned, and the state
    * is a sources×k-row table localCheckpoint-materialized per batch.
    * Membership stays a pure function of (doc_id, salt), so the final
    * state is spec-pinned EQUAL to batch p24 over the union of every
    * batch — a late-arriving doc with a smaller hash correctly evicts the
    * standing k-th member of its source. `onBatch` receives (merged
    * candidate frame, batchId). */
  def maintainHoldoutStream(docStream: DataFrame, initial: DataFrame,
                            onBatch: (DataFrame, Long) => Unit,
                            perSource: Int = 5,
                            salt: String = "holdout:"): DataStreamWriter[Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference(initial)
    docStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bc = graft.operators.DataPipeline.holdoutCandidates(
          batch.select(col("doc_id"), col("source")), perSource, salt)
        val merged = graft.operators.DataPipeline
          .mergeHoldoutCandidates(state.get, bc, perSource)
          .localCheckpoint(true)
        state.set(merged)
        onBatch(merged, batchId)
      }
  }

  /** Streaming s11 — ANN serving-index maintenance as vectors land: each
    * micro-batch runs the frozen model's argmin assignment over ITS OWN
    * rows only and unions into the standing index (Knn.upsertIvfIndex),
    * localCheckpoint-materialized so state is a bounded table, not a
    * growing union plan. Final state is spec-pinned EQUAL to assigning the
    * whole streamed union in one batch — assignment is a pure per-row
    * function of (vector, frozen centers). Retraining on drift is the
    * caller's explicit decision (the FAISS add/train split); batch vec_ids
    * are new by contract (d08 admission upstream). `onBatch` receives
    * (merged index, batchId). */
  def maintainIndexStream(embStream: DataFrame,
                          centers: Array[Array[Double]], initial: DataFrame,
                          onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference(initial)
    embStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val merged = graft.similarity.Knn.upsertIvfIndex(
          state.get, centers, batch.select(col("vec_id"), col("embedding")))
          .localCheckpoint(true)
        state.set(merged)
        onBatch(merged, batchId)
      }
  }

  final case class SessionFlush(user_id: Long, n_events: Int,
                                total_value: Double, evicted: Boolean)

  /** [[statefulPerUser]] with BOUNDED state: an event-time timeout evicts a
    * user's state once the watermark passes last-event-time + `idleGapMs`,
    * emitting a final `evicted = true` flush row. The state store then holds
    * only recently-active keys instead of every key ever seen — at scale the
    * difference between state ∝ active users and state ∝ all-time users
    * (the unbounded variant below is kept for the always-on-keys shape). */
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

  final case class IslandFlush(user_id: Long, island_start_us: Long,
                               island_end_us: Long, n_events: Int)

  /** Streaming interval union — q70's gaps-and-islands merge as an
    * incremental stateful operator: per user, maintain the MERGED open
    * islands of [ts, ts + 60 + event_id % 240 s) event intervals, and
    * emit each island exactly once, as soon as it is PROVABLY closed.
    *
    * The finalization rule is what makes state bounded and emission
    * exactly-once: an island whose end is below the watermark can never
    * grow again — any admissible future event has ts ≥ watermark > end,
    * so its interval starts strictly after the island closes and cannot
    * merge into it. Closed islands flush (Append mode) and leave the
    * state; what remains is only islands still reachable from the event-
    * time horizon — state ∝ a user's ACTIVE overlap window, independent
    * of history length (the statefulPerUserBounded discipline). An
    * event-time timeout at the furthest open end flushes the tail when a
    * user goes idle.
    *
    * Batch equivalence (spec-pinned): grouping the emitted islands per
    * user reproduces q70's (n_islands, covered_us, n_events) exactly on
    * any watermark-respecting arrival order — out-of-order WITHIN the
    * watermark is handled by the sort-merge, which is order-insensitive.
    *
    * Scale shape: the only exchange is the groupByKey on user_id; per-key
    * work is a merge of O(open islands + batch rows); the state store
    * holds a few (start, end, count) triples per active user. */
  def coverageStream(spark: SparkSession, events: Dataset[Event],
                     watermark: String = "10 minutes"): Dataset[IslandFlush] = {
    import spark.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long, Int)], IslandFlush](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid: Long, rows: Iterator[Event], state: GroupState[List[(Long, Long, Int)]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = rows.map { e =>
            val s = micros(e.ts)
            (s, s + (60L + e.event_id % 240L) * 1000000L, 1)
          }.toList
          val all = (state.getOption.getOrElse(Nil) ++ incoming).sortBy(iv => (iv._1, iv._2))
          val merged = all.foldLeft(List.empty[(Long, Long, Int)]) {
            case (Nil, iv) => List(iv)
            case ((s0, e0, n0) :: rest, (s, e, n)) =>
              if (s > e0) (s, e, n) :: (s0, e0, n0) :: rest
              else (s0, math.max(e0, e), n0 + n) :: rest
          }.reverse
          val (closed, open) = merged.partition(_._2 < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // flush deadline: once the watermark passes the furthest open
            // end, every remaining island is closed by the rule above
            // (clamped a tick past the watermark — Spark rejects deadlines
            // at or before it, and end/1000 == wm is possible at the edge)
            state.setTimeoutTimestamp(
              math.max(open.map(_._2).max / 1000L, state.getCurrentWatermarkMs() + 1L))
          }
          closed.iterator.map { case (s, e, n) => IslandFlush(uid, s, e, n) }
      }
  }

  final case class FunnelUpdate(user_id: Long, funnel_stage: Int,
                                signup_us: Option[Long], click_us: Option[Long],
                                purchase_us: Option[Long], evicted: Boolean)

  /** t1/t2/t3 hold Long.MaxValue when unset; pending lists hold only
    * events at/above the watermark (see [[funnelStream]]). */
  final case class FunnelState(t1: Long, t2: Long, t3: Long,
                               pendClicks: List[Long], pendPurchases: List[Long],
                               maxTsMs: Long)

  /** Streaming ordered funnel — q66's signup → click-after-signup →
    * purchase-after-click semantics as an incremental stateful operator:
    * per user, the current funnel stage and stage timestamps, updated
    * each micro-batch and spec-pinned equal to the batch q66 over the
    * union of all batches, on any watermark-respecting arrival order.
    *
    * Why out-of-order is the hard part: t1 (min signup) is
    * order-insensitive, but a click qualifies only if it is AFTER t1 —
    * and a late-but-admissible signup can LOWER t1 and retroactively
    * qualify a click seen earlier. The state rule that keeps this exact
    * AND bounded: qualifying events fold into their stage min
    * immediately (mins only decrease, and a qualification can never be
    * revoked — t1/t2 only move down); NON-qualifying events wait in a
    * pending list only while ts ≥ watermark, because a future upstream
    * event must carry ts ≥ watermark and so can never move a stage min
    * below the watermark — a below-watermark event that does not qualify
    * NOW never will, and drops. Pending lists are therefore bounded by
    * the lateness window, while the decided state is three longs. Every
    * re-qualification opportunity coincides with a group firing (only a
    * new signup can qualify a pending click, and its arrival fires the
    * group), so pending events are re-partitioned exactly when their
    * verdict can change.
    *
    * Emission: a stage snapshot per firing (Update-mode consumers keep
    * the latest row per user); an event-time idle timeout emits the
    * final snapshot flagged `evicted` and clears the user — the
    * statefulPerUserBounded eviction discipline. One user_id exchange;
    * per-key work ∝ batch rows + pending. */
  def funnelStream(spark: SparkSession, events: Dataset[Event],
                   watermark: String = "10 minutes",
                   idleGapMs: Long = 60 * 60 * 1000L): Dataset[FunnelUpdate] = {
    import spark.implicits._
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val NONE = Long.MaxValue
    def snapshot(uid: Long, s: FunnelState, evicted: Boolean): FunnelUpdate =
      FunnelUpdate(uid,
        if (s.t3 != NONE) 3 else if (s.t2 != NONE) 2 else if (s.t1 != NONE) 1 else 0,
        Some(s.t1).filter(_ != NONE), Some(s.t2).filter(_ != NONE),
        Some(s.t3).filter(_ != NONE), evicted)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (uid: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val s0 = state.getOption.getOrElse(
            FunnelState(NONE, NONE, NONE, Nil, Nil, Long.MinValue))
          if (state.hasTimedOut) {
            state.remove()
            Iterator(snapshot(uid, s0, evicted = true))
          } else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val evs = rows.toList
            var (t1, t2, t3) = (s0.t1, s0.t2, s0.t3)
            var (pc, pp, maxTs) = (s0.pendClicks, s0.pendPurchases, s0.maxTsMs)
            evs.foreach(e => maxTs = math.max(maxTs, e.ts.getTime))
            val signups = evs.collect { case e if e.event_type == "signup" => micros(e.ts) }
            if (signups.nonEmpty) t1 = math.min(t1, signups.min)
            // stage 2: pending + new clicks against the (possibly lowered) t1
            val clicks = pc ++ evs.collect { case e if e.event_type == "click" => micros(e.ts) }
            val (qc, restC) = clicks.partition(c => t1 != NONE && c > t1)
            if (qc.nonEmpty) t2 = math.min(t2, qc.min)
            pc = restC.filter(_ >= wmUs) // below-watermark non-qualifiers are final
            // stage 3: same rule one stage down (t2 may have just dropped)
            val purchases = pp ++ evs.collect { case e if e.event_type == "purchase" => micros(e.ts) }
            val (qp, restP) = purchases.partition(p => t2 != NONE && p > t2)
            if (qp.nonEmpty) t3 = math.min(t3, qp.min)
            pp = restP.filter(_ >= wmUs)
            val s1 = FunnelState(t1, t2, t3, pc, pp, maxTs)
            state.update(s1)
            state.setTimeoutTimestamp(
              math.max(maxTs + idleGapMs, state.getCurrentWatermarkMs() + 1L))
            Iterator(snapshot(uid, s1, evicted = false))
          }
      }
  }

  /** Custom keyed state: per-user running totals, re-emitted each batch the
    * key appears in — the `flatMapGroupsWithState` shape used for bespoke
    * sessionization. UNBOUNDED by design (the name says so): state never
    * evicts, so this fits only always-on key spaces (devices, tenants);
    * [[statefulPerUserBounded]] is the default for unbounded key spaces. */
  def statefulPerUserUnbounded(spark: SparkSession, events: Dataset[Event]): Dataset[SessionSummary] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Double), SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid: Long, rows: Iterator[Event], state: GroupState[(Int, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0, 0.0))
          var n = n0; var v = v0
          rows.foreach { e => n += 1; v += e.value }
          state.update((n, v))
          Iterator(SessionSummary(uid, n, v))
      }
  }
}
