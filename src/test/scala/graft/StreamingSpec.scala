package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("streaming sessionization equals q122's batch islands, boundary gaps included") {
    implicit val sql = spark.sqlContext
    // user 1: events 0/10/25 min (one session), 70 min (new: gap 45 > 30),
    // 100 min (EXACTLY 30 min after 70 — the boundary gap EXTENDS the
    // session, session_window's measured merge rule = q122's strict >);
    // user 2: a lone event
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0), Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(25), 1, "click", 3.0), Event(4, ts(70), 1, "purchase", 4.0),
      Event(5, ts(100), 1, "view", 5.0), Event(6, ts(40), 2, "view", 6.0))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.sessionizeStream(mem.toDF())
      .writeStream.format("memory").queryName("sessionized")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getLong(6))
    val cols = Seq("user_id", "start_us", "end_us", "n_events", "n_types",
      "value_sum", "duration_us")
    val streamed = spark.table("sessionized")
      .select(cols.map(col): _*).collect().map(key).toSet
    val batch = graft.operators.Relational6.sessionizeBatch(events.toDF())
      .select(cols.map(col): _*).collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.size === 3, s"expected 3 sessions: $streamed")
    // the boundary event extended the 70-min session instead of opening one
    assert(streamed.exists { case (u, s, e, n, _, _, _) =>
      u == 1L && n == 2L && s == ts(70).getTime * 1000L &&
        e == ts(100).getTime * 1000L })
  }

  test("streaming tumbling window equals the batch result on closed input") {
    implicit val sql = spark.sqlContext
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0), Event(4, ts(70), 1, "click", 4.0),
      Event(5, ts(200), 2, "view", 5.0))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.tumblingCounts(events.toDF())
    // batch path: same expressions, watermark is a no-op on a bounded df
    val expected = batch
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === expected)
    assert(streamed.contains(("00:00", "click", 2L)))
  }

  test("watermark drops rows later than the threshold (append mode)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    mem.addData(Event(1, ts(10), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(600), 1, "click", 1.0)) // advance watermark to 10:00-2h=08:00
    q.processAllAvailable()
    mem.addData(Event(3, ts(15), 1, "click", 1.0))  // 00:15 < watermark → dropped
    q.processAllAvailable()
    mem.addData(Event(4, ts(1200), 1, "click", 1.0)) // flush all windows
    q.processAllAvailable(); q.stop()
    val rows = spark.table("late")
      .select(date_format(col("window_start"), "HH:mm"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("00:00") === 1L, "late row must not be counted")
  }

  test("streaming dedup drops within-horizon re-deliveries and evicts state after") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupedEvents(mem.toDF())
      .writeStream.format("memory").queryName("stream_dedup").outputMode("append").start()
    // same-batch duplicate + cross-batch re-delivery, both within the horizon
    mem.addData(Event(1, ts(10), 1, "click", 1.0), Event(1, ts(10), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(12), 1, "click", 1.0), Event(2, ts(20), 2, "view", 2.0))
    q.processAllAvailable()
    // advance the watermark (10:00 − 2 h = 08:00) far past id 1's tombstone…
    mem.addData(Event(3, ts(600), 1, "click", 3.0))
    q.processAllAvailable()
    // …so a post-horizon re-delivery of id 1 passes again: state was evicted,
    // which is exactly the bounded-state contract (ids-per-horizon, not
    // all-time ids)
    mem.addData(Event(1, ts(620), 1, "click", 9.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("stream_dedup").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.count(_ == 1L) === 2, "id 1: once deduped, once after eviction")
    assert(ids.count(_ == 2L) === 1)
    assert(ids.count(_ == 3L) === 1)
    assert(ids.length === 4)
  }

  test("streaming dedup equals batch dropDuplicates on closed within-horizon input") {
    // the SURVEY §5 streaming-oracle method: over a CLOSED input whose
    // re-deliveries all land inside the watermark horizon, the streaming
    // operator's output set must equal the batch dropDuplicates of the same
    // rows — the semantic the docstring promises ("exactly-once-per-id")
    implicit val sql = spark.sqlContext
    val uniques = Seq(
      Event(1, ts(10), 1, "click", 1.0), Event(2, ts(20), 2, "view", 2.0),
      Event(3, ts(40), 1, "purchase", 3.0), Event(4, ts(55), 3, "click", 4.0))
    // re-deliveries are byte-identical rows (the at-least-once upstream
    // contract), spread across batches but inside the 2h horizon
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupedEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_eq").outputMode("append").start()
    mem.addData(uniques(0), uniques(1), uniques(0))
    q.processAllAvailable()
    mem.addData(uniques(2), uniques(1), uniques(3), uniques(2))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup_eq").as[Event].collect().toSet
    val batch = (uniques ++ Seq(uniques(0), uniques(1), uniques(2)))
      .toDF().dropDuplicates("event_id").as[Event].collect().toSet
    assert(streamed === batch, "closed within-horizon input: streaming == batch")
    assert(streamed === uniques.toSet)
  }

  test("streaming dedup diverges from batch beyond the horizon — by contract") {
    // the documented divergence: once the watermark passes an id's event
    // time its tombstone is evicted, so the same id arriving again WITH A
    // FRESH EVENT TIME is re-admitted — the streaming output has one more
    // row than batch dropDuplicates of the same closed input. (A re-delivery
    // of the byte-identical old row is instead dropped as late — that case
    // converges with batch and isn't the divergence.) This is the
    // bounded-state trade the horizon knob buys; pinning it means a silent
    // semantics change (e.g. swapping in plain dropDuplicates, which never
    // re-admits but never evicts) fails loudly.
    implicit val sql = spark.sqlContext
    val rows = Seq(
      Event(1, ts(10), 1, "click", 1.0),   // admitted
      Event(2, ts(600), 2, "view", 2.0),   // advances watermark past ts(10)+2h
      Event(1, ts(620), 1, "click", 9.0))  // same id, fresh ts: re-admitted
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupedEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_div").outputMode("append").start()
    rows.foreach { e => mem.addData(e); q.processAllAvailable() }
    q.stop()
    val streamedN = spark.table("dedup_div").count()
    val batchN = rows.toDF().dropDuplicates("event_id").count()
    assert(batchN === 2)
    assert(streamedN === 3, "beyond-horizon fresh-ts re-delivery re-admits: streaming = batch + 1")
  }

  test("sliding windows double-count each event across overlaps, stream == batch") {
    implicit val sql = spark.sqlContext
    val events = Seq(
      Event(1, ts(10), 1, "click", 1.0),  // windows starting 23:30 (prev day) & 00:00
      Event(2, ts(40), 1, "click", 1.0),  // windows 00:00 & 00:30
      Event(3, ts(100), 2, "view", 1.0))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.slidingCounts(events.toDF())
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // every event appears in exactly 2 windows: total n = 2 × events
    assert(streamed.toSeq.map(_._3).sum === 2L * events.length)
    assert(streamed.contains(("00:00", "click", 2L))) // both clicks overlap here
  }

  test("update output mode re-emits only changed aggregate rows") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("updates").outputMode("update").start()
    mem.addData(Event(1, ts(5), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(10), 1, "click", 1.0)) // same window → updated row
    mem.addData(Event(3, ts(70), 2, "view", 1.0))  // new window → new row
    q.processAllAvailable(); q.stop()
    val rows = spark.table("updates")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // batch 1 emitted (00:00, click, 1); batch 2 re-emitted it as n=2 plus the new window
    assert(rows.count(_ == (("00:00", "click", 1L))) === 1)
    assert(rows.count(_ == (("00:00", "click", 2L))) === 1)
    assert(rows.count(_ == (("01:00", "view", 1L))) === 1)
  }

  test("stream-stream interval join matches the batch join on closed input") {
    implicit val sql = spark.sqlContext
    val errors = Seq(
      Event(1, ts(10), 1, "error", 0.0),
      Event(2, ts(100), 2, "error", 0.0))
    val purchases = Seq(
      Event(10, ts(30), 1, "purchase", 5.0),   // 20 min after error 1 → joined
      Event(11, ts(75), 1, "purchase", 7.0),   // 65 min after → outside 1h
      Event(12, ts(130), 2, "purchase", 9.0))  // 30 min after error 2 → joined
    val memE = MemoryStream[Event]; val memP = MemoryStream[Event]
    memE.addData(errors: _*); memP.addData(purchases: _*)
    val q = EventStreams.errorPurchaseJoin(memE.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin")
      .select("error_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed === Set((1L, 5.0), (2L, 9.0)))
    // batch path runs the identical plan on bounded frames
    val batch = EventStreams.errorPurchaseJoin(errors.toDF(), purchases.toDF())
      .select("error_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch === streamed)
  }

  test("foreachBatch + checkpoint resumes without reprocessing (K4 parity)") {
    // the reference's interim-checkpoint loop (Heartbeat.java:150-242) maps
    // to Structured Streaming checkpoints: stop the query, restart from the
    // same checkpoint dir, and only unseen input is processed
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start(mem: MemoryStream[Event]) =
      mem.toDS().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Event], _: Long) =>
          batch.collect().foreach(e => seen.add(e.event_id))
        }
        .start()
    val mem = MemoryStream[Event]
    mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "click", 1.0))
    val q1 = start(mem); q1.processAllAvailable(); q1.stop()
    assert(seen.size() === 2)
    // restart from the same checkpoint: the committed batch is not replayed
    mem.addData(Event(3, ts(3), 1, "click", 1.0))
    val q2 = start(mem); q2.processAllAvailable(); q2.stop()
    val ids = { val a = new java.util.ArrayList[Long](); seen.forEach(x => { a.add(x); () }); a }
    assert(ids.size() === 3, s"batch replayed or lost: $ids")
    assert(ids.contains(3L))
  }

  test("bounded state: event-time timeout evicts idle keys and emits a flush") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.statefulPerUserBounded(spark, mem.toDS())
      .writeStream.format("memory").queryName("bounded").outputMode("append").start()
    mem.addData(Event(1, ts(10), 7, "click", 2.0)) // user 7 active at 00:10
    q.processAllAvailable()                         // watermark → 00:00
    mem.addData(Event(2, ts(300), 8, "click", 1.0)) // 05:00 → watermark 04:50 after batch
    q.processAllAvailable()
    mem.addData(Event(3, ts(310), 8, "click", 1.0)) // batch 3 runs with wm 04:50 > 01:10
    q.processAllAvailable(); q.stop()
    val rows = spark.table("bounded").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    // user 7 idle past last-event + 1h: state flushed exactly once, then gone
    assert(rows.count(_ == ((7L, 1, 2.0, true))) === 1, s"no eviction flush: ${rows.toSeq}")
    // user 8 stays live (never timed out in this run)
    assert(rows.filter(_._1 == 8L).forall(!_._4))
  }

  test("bounded state: a late-but-valid batch never moves the eviction deadline backwards") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.statefulPerUserBounded(spark, mem.toDS())
      .writeStream.format("memory").queryName("boundedlate").outputMode("append").start()
    mem.addData(Event(1, ts(100), 7, "click", 2.0)) // deadline 100+60=160; wm → 90
    q.processAllAvailable()
    mem.addData(Event(2, ts(92), 7, "click", 3.0))  // late but > wm: deadline must STAY 160
    q.processAllAvailable()
    mem.addData(Event(3, ts(165), 9, "click", 1.0)) // wm → 155 after this batch
    q.processAllAvailable()
    mem.addData(Event(4, ts(166), 9, "click", 1.0)) // batch runs with wm 155: 152<155<160
    q.processAllAvailable()
    val early = spark.table("boundedlate").collect()
      .filter(r => r.getLong(0) == 7L && r.getBoolean(3))
    assert(early.isEmpty, s"deadline regressed to last-batch max: ${early.toSeq}")
    mem.addData(Event(5, ts(250), 9, "click", 1.0)) // wm → 240 ≥ 160
    q.processAllAvailable()
    mem.addData(Event(6, ts(251), 9, "click", 1.0)) // timeout fires in this batch
    q.processAllAvailable(); q.stop()
    val flushes = spark.table("boundedlate").collect()
      .filter(r => r.getLong(0) == 7L && r.getBoolean(3))
      .map(r => (r.getInt(1), r.getDouble(2)))
    // one eviction carrying BOTH events — the session was never split
    assert(flushes.toSeq === Seq((2, 5.0)), s"session split or lost: ${flushes.toSeq}")
  }

  test("bounded state runs under the RocksDB state store (the 100 TB state backend)") {
    // same semantics as the in-memory provider test, but with state held in
    // RocksDB — the provider SURVEY §8.4 names for state that outgrows the
    // executor heap (rocksdbjni ships with the Spark distribution)
    implicit val sql = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = EventStreams.statefulPerUserBounded(spark, mem.toDS())
        .writeStream.format("memory").queryName("rocksdb_bounded").outputMode("append").start()
      mem.addData(Event(1, ts(10), 7, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(300), 8, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(310), 8, "click", 1.0)) // wm 04:50 > 01:10 → evict user 7
      q.processAllAvailable(); q.stop()
      val rows = spark.table("rocksdb_bounded").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
      assert(rows.count(_ == ((7L, 1, 2.0, true))) === 1,
        s"no eviction flush under RocksDB: ${rows.toSeq}")
      assert(rows.filter(_._1 == 8L).forall(!_._4))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming file source: new files in a directory are picked up (append)") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    }
    writeFile("a.json", Seq("""{"id": 1, "v": 1.5}""", """{"id": 2, "v": 2.5}"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val q = spark.readStream.schema(schema).json(dir.toString)
      .writeStream.format("memory").queryName("filesrc").outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("filesrc").count() === 2)
    writeFile("b.json", Seq("""{"id": 3, "v": 3.5}"""))
    q.processAllAvailable(); q.stop()
    val got = spark.table("filesrc").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 1.5), (2L, 2.5), (3L, 3.5)))
  }

  test("rate source feeds the event operators (schema-compatible load generator)") {
    val q = EventStreams.tumblingCounts(EventStreams.rateEvents(spark, rowsPerSecond = 500))
      .writeStream.format("memory").queryName("ratesrc").outputMode("complete").start()
    // rate rows materialize on wall time: wait for at least one batch of data
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var n = 0L
    while (n == 0 && System.nanoTime() < deadline) {
      Thread.sleep(500); q.processAllAvailable()
      n = spark.table("ratesrc").count()
    }
    q.stop()
    assert(n > 0, "rate source produced no aggregated rows within 30s")
    val types = spark.table("ratesrc").select("event_type").collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("view", "click", "purchase", "error")))
  }

  test("streaming zone-map maintenance equals a from-scratch build after every batch") {
    implicit val sql = spark.sqlContext
    import graft.sources.ZoneMaps
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_stream_")
      .resolve("t").toString
    val mem = MemoryStream[(Long, Double)]
    var perBatch = Vector.empty[(Long, Array[org.apache.spark.sql.Row])]
    val q = EventStreams.maintainZoneMapStream(
      mem.toDF().toDF("k", "v"), dir, Seq("k"),
      (rows, id) => perBatch :+= (id, rows),
      bloomCols = Seq("k")).start()
    mem.addData((1L, 0.5), (7L, 1.5), (3L, 2.5)); q.processAllAvailable()
    mem.addData((40L, 3.5), (55L, 4.5)); q.processAllAvailable()
    mem.addData((2L, 5.5)); q.processAllAvailable(); q.stop()
    assert(perBatch.length == 3)
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("k_min"), r.getAs[Long]("k_max"),
        r.getAs[Array[Byte]]("k_bloom").toSeq)).toSet
    // the final maintained manifest equals a from-scratch build — blooms
    // included (a file's key bloom is as immutable as its envelope) —
    // and the standing rows never change across batches
    val fresh = ZoneMaps.build(spark, dir, Seq("k"),
      bloomCols = Seq("k")).collect()
    assert(canon(perBatch.last._2) == canon(fresh))
    assert(perBatch.last._2.map(_.getAs[Long]("n_rows")).sum == 6L)
    val firstFiles = canon(perBatch.head._2)
    assert(firstFiles.subsetOf(canon(perBatch.last._2)),
      "standing manifest rows must survive maintenance verbatim")
    // and the MAINTAINED rows drive membership pruning directly — the
    // streamed table's metadata layer is bloom-grade without any rebuild
    val pruned = ZoneMaps.membershipPruneFiles(perBatch.last._2,
      "k", Array(40L, 55L))
    assert(pruned.nonEmpty && pruned.length < fresh.length)
  }

  test("streamed zone-map folds land in the defining session: no stale serves") {
    implicit val sql = spark.sqlContext
    import graft.sources.ZoneMapFileIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_stream_own_")
      .resolve("t").toString
    registered(dir, Seq("k"))
    val mem = MemoryStream[(Long, Double)]
    val q = EventStreams.maintainZoneMapStream(
      mem.toDF().toDF("k", "v"), dir, Seq("k"), (_, _) => ()).start()
    try {
      def read = spark.read.parquet(dir).where(col("k") === 1L)
      mem.addData((1L, 0.5), (2L, 1.5)); q.processAllAvailable()
      assert(scannedFiles(read) == 1)
      mem.addData((10L, 2.5), (11L, 3.5)); q.processAllAvailable()
      // batch 1's file folded into THIS session's record: the k = 1 read
      // prunes it instead of keeping it as a file the manifest never saw
      val after = read
      assert(scannedFiles(after) == 1 && after.count() == 1)
      assert(ZoneMapFileIndex.staleServesFor(dir) == 0)
    } finally {
      q.stop()
      graft.sources.ZoneMaps.forget(spark, dir)
    }
  }

  test("the first streamed fold types its scan from the batch: no more jobs than the next") {
    implicit val sql = spark.sqlContext
    import graft.sources.ZoneMaps
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_stream_jobs_")
      .resolve("t").toString
    val mem = MemoryStream[(Long, Double)]
    @volatile var last = Array.empty[org.apache.spark.sql.Row]
    val q = EventStreams.maintainZoneMapStream(
      mem.toDF().toDF("k", "v"), dir, Seq("k"), (rows, _) => last = rows,
      bloomCols = Seq("k")).start()
    try {
      // every job of the query runs in its run-id job group; a settled
      // marker job means the status tracker has seen all of them
      def queryJobs(): Int = {
        jobsOf(s"settle-${System.nanoTime()}")(())
        spark.sparkContext.statusTracker.getJobIdsForGroup(q.runId.toString).length
      }
      mem.addData((1L, 0.5), (7L, 1.5)); q.processAllAvailable()
      val b0 = queryJobs()
      mem.addData((40L, 3.5), (55L, 4.5)); q.processAllAvailable()
      val b1 = queryJobs() - b0
      assert(b0 > 0 && b0 <= b1, s"batch 0 ran $b0 jobs, batch 1 ran $b1")
      assert(sameManifest(last,
        ZoneMaps.build(spark, dir, Seq("k"), bloomCols = Seq("k")).collect()))
    } finally {
      q.stop()
      ZoneMaps.forget(spark, dir)
    }
  }
}
