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

  test("streaming near-dup admission matches the per-document batch d10 decision") {
    implicit val sql = spark.sqlContext
    val standing = Seq((1L, (1 to 12).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.Set.empty[Long]
    val q = EventStreams.admitNearDupsStream(
      mem.toDF().toDF("doc_id", "text"), standing,
      (df, _) => admitted ++= df.collect().map(_.getLong(0))).start()
    // batch 1: an exact dup of standing doc 1 (dropped) + a fresh doc
    mem.addData((10L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (11L, "totally fresh text one two three"))
    q.processAllAvailable()
    // batch 2: a near-dup of standing doc 1 (J = 9/10, dropped) + fresh
    mem.addData((12L, (1 to 11).map(i => s"w$i").mkString(" ")),
      (13L, "another unrelated document entirely"))
    q.processAllAvailable(); q.stop()
    // admission depends only on (doc, standing corpus) — the streamed
    // union must equal the batch operator's decision doc-by-doc
    assert(admitted.toSet === Set(11L, 13L))
  }

  test("streaming edit-distance admission matches the per-document batch d21 decision") {
    implicit val sql = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog"
    val standing = Seq((1L, base)).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.Set.empty[Long]
    val q = EventStreams.admitEditDupsStream(
      mem.toDF().toDF("doc_id", "text"), standing,
      (df, _) => admitted ++= df.collect().map(_.getLong(0)), maxDist = 4).start()
    // batch 1: a 3-edit copy of standing doc 1 (dropped) + a far doc
    mem.addData((10L, base.replace("dog", "cat")),
      (11L, "entirely different words that share nothing with standing"))
    q.processAllAvailable()
    // batch 2: exact copy (dropped) + another far doc (admitted)
    mem.addData((12L, base), (13L, "more fresh unrelated content again"))
    q.processAllAvailable(); q.stop()
    assert(admitted.toSet === Set(11L, 13L))
  }

  test("streaming embedding admission matches the per-vector batch d24 decision") {
    implicit val sql = spark.sqlContext
    def vec(f: Int => Double): Array[Float] =
      Array.tabulate(graft.similarity.Srp.Dims)(i => f(i).toFloat)
    val standing = Seq((1L, vec(i => math.sin(i + 1)))).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val admitted = scala.collection.mutable.Set.empty[Long]
    val q = EventStreams.admitEmbeddingsStream(
      mem.toDF().toDF("vec_id", "embedding"), standing,
      (df, _) => admitted ++= df.collect().map(_.getLong(0)), threshold = 0.9).start()
    // batch 1: an exact copy of standing vec 1 (dropped) + a fresh vector
    mem.addData((10L, vec(i => math.sin(i + 1))), (11L, vec(i => math.cos(7 * i + 3))))
    q.processAllAvailable()
    // batch 2: a near-copy of standing vec 1 (dropped) + another fresh one
    mem.addData((12L, vec(i => math.sin(i + 1) + 0.001)), (13L, vec(i => math.cos(11 * i + 5))))
    q.processAllAvailable(); q.stop()
    assert(admitted.toSet === Set(11L, 13L))
  }

  test("streaming cluster maintenance converges to the full-recompute labels") {
    implicit val sql = spark.sqlContext
    // standing corpus: docs 1 and 2 are near-dups (J = 11/12), doc 3 unrelated
    val standing = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"w$i").mkString(" ")),
      (3L, "completely different standing content here")).toDF("doc_id", "text")
    val initial = graft.dedup.Clusters.connectedComponents(
      graft.dedup.Dedup.minHashLshPairs(standing).select(col("d1"), col("d2")))
    val mem = MemoryStream[(Long, String)]
    var finalLabels = Map.empty[Long, Long]
    val q = EventStreams.maintainClustersStream(
      mem.toDF().toDF("doc_id", "text"), standing, initial,
      (df, _) => finalLabels = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      .start()
    // batch 1: doc 20 is a near-dup of standing doc 1 → joins cluster {1, 2}
    mem.addData((20L, (0 to 11).map(i => s"w$i").mkString(" ")))
    q.processAllAvailable()
    // batch 2: an internal pair {30, 31}, untouched by standing
    mem.addData((30L, (100 to 111).map(i => s"x$i").mkString(" ")),
      (31L, (100 to 110).map(i => s"x$i").mkString(" ")))
    q.processAllAvailable(); q.stop()
    assert(finalLabels === Map(1L -> 1L, 2L -> 1L, 20L -> 1L, 30L -> 30L, 31L -> 30L),
      "maintained labels must equal the full d07 recompute over standing + batches")
  }

  test("streaming manifest maintenance equals the batch manifest of the union") {
    implicit val sql = spark.sqlContext
    import graft.operators.DataPipeline
    val standing = tables.documents.where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val initial = DataPipeline.shardManifest(standing)
    val mem = MemoryStream[(Long, String)]
    var finalManifest = Map.empty[Int, (Long, Long, Long, Long, Long)]
    val q = EventStreams.maintainManifestStream(
      mem.toDF().toDF("doc_id", "text"), initial,
      (df, _) => finalManifest = df.collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap)
      .start()
    val b1 = Seq((9001L, "streamed batch one alpha beta"), (9002L, "more streamed text"))
    val b2 = Seq((9003L, "second batch gamma delta"))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val union = standing.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    val expected = DataPipeline.shardManifest(union).collect().map(r => r.getInt(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(finalManifest === expected,
      "xor/min/max/sum folding must equal the batch manifest of the union")
  }

  test("streaming CMS maintenance equals batch counters over the streamed union") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextQueries
    val standing = tables.documents.where(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val initial = TextQueries.cmsCounters(standing).localCheckpoint(true)
    val mem = MemoryStream[(Long, String)]
    var finalState = Map.empty[(Int, Long), Long]
    val q = EventStreams.maintainCmsStream(
      mem.toDF().toDF("doc_id", "text"), initial,
      (df, _) => finalState = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap).start()
    val b1 = Seq((9001L, "alpha beta alpha gamma"), (9002L, "beta beta delta"))
    val b2 = Seq((9003L, "gamma alpha epsilon"))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val union = standing.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    val expected = TextQueries.cmsCounters(union).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(finalState === expected,
      "additive counter folding must equal the batch counters of the union")
    // the folded sketch never undercounts a planted heavy hitter
    val alphaBuckets = TextQueries.cmsCounters(
      Seq((1L, "alpha")).toDF("doc_id", "text")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val est = alphaBuckets.map(finalState).min
    val trueAlpha = union.select(explode(split(lower(col("text")), " ")).as("t"))
      .where(col("t") === "alpha").count()
    assert(est >= trueAlpha, "CMS point estimate is one-sided")
  }

  test("streaming chunk-census maintenance equals batch census over the streamed union") {
    implicit val sql = spark.sqlContext
    import graft.operators.DataPipeline
    val standing = tables.documents.where(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val initial = DataPipeline.chunkCensus(standing, 200, 100)
      .localCheckpoint(true)
    val mem = MemoryStream[(Long, String)]
    var finalState = Map.empty[String, Long]
    val q = EventStreams.maintainChunkCensusStream(
      mem.toDF().toDF("doc_id", "text"), initial,
      (df, _) => finalState = df.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      width = 200, stride = 100).start()
    // b2 repeats b1's first text verbatim: its chunk counts must GROW
    val b1 = Seq((9001L, "a" * 350), (9002L, ("b" * 200) + ("c" * 150)))
    val b2 = Seq((9003L, "a" * 350))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val union = standing.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    val expected = DataPipeline.chunkCensus(union, 200, 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalState === expected,
      "additive count folding must equal the batch census of the union")
    // the repeated document's aligned windows really merged (count 2+)
    val dupHashes = DataPipeline.chunkCensus(
      Seq((1L, "a" * 350)).toDF("doc_id", "text"), 200, 100).collect()
      .map(_.getString(0))
    dupHashes.foreach(h => assert(finalState(h) >= 2L,
      s"replayed chunk $h should have merged counts"))
  }

  test("streaming media admission rejects the perceptual replay, admits the fresh image") {
    implicit val sql = spark.sqlContext
    import graft.multimodal.{MediaCodecs, Multimodal}
    def bmp(f: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val (w, h) = (6, 4); val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val d = (y * w + x) * 3; val (r, g, b) = f(x, y)
        rgb(d) = r.toByte; rgb(d + 1) = g.toByte; rgb(d + 2) = b.toByte
      }
      MediaCodecs.encodeBmp(MediaCodecs.BmpImage(w, h, rgb))
    }
    val known = bmp((x, y) => (x * 40, y * 60, x + y))
    val fresh = bmp((x, y) => (200 - x * 40, 10, 255 - y * 60))
    // fixture precondition: the fresh image is perceptually FAR
    val h1 = Multimodal.dHash64(MediaCodecs.decodeBmp(known).get)
    val h2 = Multimodal.dHash64(MediaCodecs.decodeBmp(fresh).get)
    assert(java.lang.Long.bitCount(h1 ^ h2) > 3, "fixture images too similar")
    val standing = Seq((100L, h1)).toDF("doc_id", "phash")
    val mem = MemoryStream[(Long, Array[Byte])]
    var verdicts = Map.empty[Long, Boolean]
    val q = EventStreams.admitMediaStream(
      mem.toDF().toDF("doc_id", "payload"), standing,
      (df, _) => verdicts ++= df.collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap).start()
    mem.addData((1L, known), (2L, fresh))
    q.processAllAvailable(); q.stop()
    assert(verdicts(1L) === false, "perceptual replay of standing must be rejected")
    assert(verdicts(2L) === true, "fresh image must be admitted")
  }

  test("streaming holdout maintenance equals batch p24 over the streamed union") {
    implicit val sql = spark.sqlContext
    import graft.operators.DataPipeline
    val standing = tables.documents.where(col("doc_id") < 100)
      .select(col("doc_id"), col("source"))
    val initial = DataPipeline.holdoutCandidates(standing)
    val mem = MemoryStream[(Long, String)]
    var finalState = Set.empty[(String, Long)]
    val q = EventStreams.maintainHoldoutStream(
      mem.toDF().toDF("doc_id", "source"), initial,
      (df, _) => finalState = df.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet).start()
    // salt-hash order is unrelated to doc_id order, so late high-ids can
    // evict standing members — the convergence check is the real property
    val srcs = standing.select("source").distinct()
      .collect().map(_.getString(0)).toSeq
    val b1 = (9001L to 9020L).map(i => (i, srcs(i.toInt % srcs.length)))
    val b2 = (9021L to 9040L).map(i => (i, srcs(i.toInt % srcs.length)))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val union = standing.unionByName((b1 ++ b2).toDF("doc_id", "source"))
    val expected = DataPipeline.holdoutCandidates(union).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(finalState === expected,
      "folded per-source min-k state must equal batch p24 over the union")
    assert((b1 ++ b2).map(_._1).toSet.intersect(expected.map(_._2)).nonEmpty ||
      expected.nonEmpty, "sanity: expected state non-empty")
  }

  test("streaming index maintenance equals assigning the streamed union in one pass") {
    implicit val sql = spark.sqlContext
    import graft.similarity.Knn
    val standing = tables.embeddings.where(col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"))
    val centers = Knn.trainIvf(standing, nCells = 10)
    val initial = Knn.assigned(standing, centers)
    val late = tables.embeddings.where(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val mem = MemoryStream[(Long, Seq[Double])]
    var finalIdx = Map.empty[Long, Int]
    val q = EventStreams.maintainIndexStream(
      mem.toDF().toDF("vec_id", "embedding"), centers, initial,
      (df, _) => finalIdx = df.collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap).start()
    val (b1, b2) = late.splitAt(late.length / 2)
    mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable(); q.stop()
    val expected = Knn.assigned(
      tables.embeddings.select(col("vec_id"), col("embedding")), centers)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(finalIdx === expected,
      "per-batch frozen-model assignment must equal the one-pass rebuild")
  }

  test("streaming drift monitor converges to the batch p22 of the streamed union") {
    implicit val sql = spark.sqlContext
    import graft.operators.DataPipeline
    val reference = tables.documents.where(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val mem = MemoryStream[(Long, String)]
    var finalDrift = Map.empty[Double, (Long, Long)]
    val q = EventStreams.monitorDriftStream(
      mem.toDF().toDF("doc_id", "text"), reference,
      (df, _) => finalDrift = df.collect().map(r =>
        r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap).start()
    val b1 = Seq((9001L, "short"), (9002L, "a slightly longer streamed document here"))
    val b2 = Seq((9003L, (1 to 120).map(i => s"w$i").mkString(" ")))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val expected = DataPipeline.qualityDrift(
      reference, (b1 ++ b2).toDF("doc_id", "text")).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(finalDrift === expected,
      "folded histogram drift must equal batch p22 over the streamed union")
  }

  test("streaming concurrency monitor converges to batch q105 of the streamed union") {
    implicit val sql = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    var finalRep = Map.empty[String, (Long, Long, String)]
    val q = EventStreams.monitorConcurrencyStream(
      mem.toDF().toDF("event_id", "ts"),
      (df, _) => finalRep = df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap)
      .start()
    // batch 1: two overlapping intervals on Jan 1 + one crossing midnight
    val b1 = Seq((0L, ts("2024-01-01 10:00:00")), (960L, ts("2024-01-01 10:00:30")),
      (240L, ts("2024-01-01 23:59:30")))
    // batch 2: a third interval joins the Jan-1 cluster → peak rises to 3
    val b2 = Seq((480L, ts("2024-01-01 10:00:40")))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val expected = graft.operators.Relational5.concurrencySweep(
      (b1 ++ b2).toDF("event_id", "ts")).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(finalRep === expected,
      "folded deltas must re-sweep to batch q105 over the streamed union")
    assert(finalRep("2024-01-01")._2 === 3L, "cross-batch overlap raises the peak")
    assert(finalRep.contains("2024-01-02"), "midnight tail day reported")
  }

  test("streaming recency monitor rolls aged days losslessly, equals batch q108") {
    implicit val sql = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    var finalRep = Map.empty[Long, (Long, String, Long)]
    val q = EventStreams.monitorRecencyStream(
      mem.toDF().toDF("user_id", "ts"),
      (df, _) => finalRep = df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap)
      .start()
    // batch 1: user 1 active long ago (three old days), user 2 recent
    val b1 = Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-03 10:00:00")), (2L, ts("2024-01-25 09:00:00")))
    // batch 2: anchor jumps to Feb 20 — user 1's days age past the horizon
    val b2 = Seq((2L, ts("2024-02-20 12:00:00")), (2L, ts("2024-02-20 13:00:00")))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    import spark.implicits._
    val union = (b1 ++ b2).toDF("user_id", "ts")
    val expected = graft.operators.Relational5.recencyScore(union).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(finalRep === expected,
      "rolled state must reproduce batch q108 over the streamed union")
    assert(finalRep(1L) === ((3L, "2024-01-03", 3L)),
      "aged-out user: floor score 1 per event, true last_seen preserved")
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

  test("flatMapGroupsWithState keeps per-user running state across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.statefulPerUserUnbounded(spark, mem.toDS())
      .writeStream.format("memory").queryName("stateful").outputMode("append").start()
    mem.addData(Event(1, ts(1), 7, "click", 2.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(2), 7, "click", 3.0))
    q.processAllAvailable(); q.stop()
    val last = spark.table("stateful").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .filter(_._1 == 7L).maxBy(_._2)
    assert(last === ((7L, 2, 5.0)))
  }

  test("stream-static decontamination quarantines each contaminated doc once") {
    implicit val sql = spark.sqlContext
    val evalDocs = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.contaminatedDocIds(
        mem.toDF().toDF("doc_id", "ts", "text"), evalDocs, k = 3)
      .writeStream.format("memory").queryName("quarantine").outputMode("append").start()
    // doc 1 shares TWO 3-gram shingles with eval doc 100 -> must emit once;
    // doc 2 shares none -> never emitted
    mem.addData(
      (1L, ts(10), "alpha beta gamma delta zz"),
      (2L, ts(11), "totally clean wording here"))
    q.processAllAvailable()
    // within-horizon re-delivery of doc 1 stays deduped; doc 3 hits the
    // OTHER static doc, proving the set spans the whole eval corpus
    mem.addData(
      (1L, ts(12), "alpha beta gamma delta zz"),
      (3L, ts(13), "xx one two three yy"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("quarantine").select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(1L, 3L), s"quarantine list: $got")
  }

  test("stream-static admission drops standing dupes and admits each fingerprint once") {
    implicit val sql = spark.sqlContext
    val standing = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.admittedDocs(
        mem.toDF().toDF("doc_id", "ts", "text"), standing)
      .writeStream.format("memory").queryName("admitted").outputMode("append").start()
    mem.addData(
      (1L, ts(10), "ALPHA  beta gamma"),  // normalizes to the standing doc -> dropped
      (2L, ts(11), "fresh words"))        // new -> admitted
    q.processAllAvailable()
    mem.addData(
      (3L, ts(12), "fresh   WORDS"),      // same fingerprint as doc 2 -> dropped
      (4L, ts(13), "another one"))        // new -> admitted
    q.processAllAvailable(); q.stop()
    val got = spark.table("admitted").select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(2L, 4L), s"admitted: $got")
  }

  test("streaming interval coverage: islands flush once, closed-by-watermark, batch-equal") {
    implicit val sql = spark.sqlContext
    // durations: 60 + event_id % 240 seconds. User 1: events at 00:00 and
    // 00:01 overlap (dur 61/62 s) → one island; 00:30 opens a second.
    // User 2: one event. Batch 2 is OUT OF ORDER (00:31 lands after 04:00
    // was seen by the op but inside the 10 min watermark lag).
    val b1 = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 1.0),
      Event(3, ts(30), 1, "click", 1.0), Event(4, ts(2), 2, "view", 1.0))
    val b2 = Seq(
      Event(5, ts(240), 3, "view", 1.0),   // advances watermark to 230 min
      Event(6, ts(31), 1, "click", 1.0))   // late-but-valid: extends island 2
    val mem = MemoryStream[Event]
    val q = EventStreams.coverageStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("coverage").outputMode("append").start()
    mem.addData(b1: _*); q.processAllAvailable()
    // after batch 1 the watermark sits at 00:30 − 10 min = 00:20: only
    // islands ending before then may have flushed (user 2's, via its
    // timeout) — user 1's open 00:30 island must still be held
    val early = spark.table("coverage").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(early.forall { case (_, endUs) => endUs < ts(20).getTime * 1000L },
      s"flushed an island the watermark had not closed: ${early.toSeq}")
    assert(!early.exists(_._1 == 1L && early.length > 1),
      s"user 1 may close at most island 1 here: ${early.toSeq}")
    mem.addData(b2: _*); q.processAllAvailable()
    // watermark now 04:00 - 10 min = 03:50 → users 1 and 2 fully closed
    mem.addData(Event(7, ts(600), 3, "view", 1.0)); q.processAllAvailable()
    q.stop()
    val got = spark.table("coverage")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // exactly-once: no island emitted twice
    assert(got.length === got.distinct.length, s"duplicate flushes: ${got.toSeq}")
    // JVM batch reference: q70's sweep over ALL events per user
    val all = b1 ++ b2 ++ Seq(Event(7, ts(600), 3, "view", 1.0))
    def us(t: java.sql.Timestamp) = t.getTime * 1000L
    val expected = all.groupBy(_.user_id).flatMap { case (uid, evs) =>
      val ivs = evs.map(e => (us(e.ts), us(e.ts) + (60L + e.event_id % 240L) * 1000000L, 1))
        .sortBy(iv => (iv._1, iv._2))
      ivs.foldLeft(List.empty[(Long, Long, Int)]) {
        case (Nil, iv) => List(iv)
        case ((s0, e0, n0) :: rest, (s, e, n)) =>
          if (s > e0) (s, e, n) :: (s0, e0, n0) :: rest
          else (s0, math.max(e0, e), n0 + n) :: rest
      }.map { case (s, e, n) => (uid, s, e, n) }
    }.toSet
    // users 1 and 2 are fully flushed; user 3's tail islands may still sit
    // in state (stream stopped before its timeout) — compare the closed set
    val gotClosed = got.filter(r => r._1 != 3L).toSet
    assert(gotClosed === expected.filter(_._1 != 3L),
      s"streamed islands diverge from the batch sweep:\n got $gotClosed\n exp $expected")
    assert(gotClosed.count(_._1 == 1L) === 2, "user 1 must close exactly two islands")
  }

  test("streaming funnel: late signup requalifies a seen click; final state batch-equal") {
    implicit val sql = spark.sqlContext
    // user 1 is the hard path: its click arrives BEFORE its signup in
    // processing order, but the signup's event time is earlier and inside
    // the watermark — the pending click must retroactively qualify.
    // user 2: click strictly before signup (never counts) → stage 1.
    // user 3: in-order full funnel → stage 3.
    // user 4: purchase before the qualifying click → stage 2.
    val b1 = Seq(
      Event(1, ts(95), 1, "click", 1.0),
      Event(2, ts(94), 2, "click", 1.0), Event(3, ts(100), 2, "signup", 1.0),
      Event(4, ts(10), 3, "signup", 1.0), Event(5, ts(20), 3, "click", 1.0),
      Event(6, ts(30), 3, "purchase", 1.0),
      Event(7, ts(40), 4, "signup", 1.0), Event(8, ts(45), 4, "purchase", 1.0),
      Event(9, ts(50), 4, "click", 1.0))
    // watermark after b1 = 100 - 10 = 90 min: the signup at 92 is LATE in
    // arrival order (after user 1's click at 95) but inside the watermark
    val b2 = Seq(Event(10, ts(92), 1, "signup", 1.0))
    val b3 = Seq(Event(11, ts(96), 1, "purchase", 1.0))
    val idleFlush = Seq(Event(12, ts(600), 99, "view", 1.0),
      Event(13, ts(601), 99, "view", 1.0))
    val mem = MemoryStream[Event]
    val q = EventStreams.funnelStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode("update").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b3: _*); q.processAllAvailable()
    // two watermark advances so the 1 h idle timeout passes users 1-4 and
    // the eviction snapshot (the FINAL per-user state) flushes
    idleFlush.foreach { e => mem.addData(e); q.processAllAvailable() }
    q.stop()
    val evicted = spark.table("funnel").where(col("evicted"))
      .collect().map { r =>
        def opt(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0), (r.getInt(1), opt(2), opt(3), opt(4)))
      }.toMap
    assert(evicted.keySet === Set(1L, 2L, 3L, 4L), s"evicted set: ${evicted.keySet}")
    def usOf(m: Int): Option[Long] = Some(ts(m).getTime * 1000L)
    assert(evicted(1L) === ((3, usOf(92), usOf(95), usOf(96))),
      "late signup must retroactively qualify the earlier-arrived click")
    assert(evicted(2L) === ((1, usOf(100), None, None)))
    assert(evicted(3L) === ((3, usOf(10), usOf(20), usOf(30))))
    assert(evicted(4L) === ((2, usOf(40), usOf(50), None)))
    // batch equivalence: q66 over the union of every batch agrees user-for-user
    val all = (b1 ++ b2 ++ b3 ++ idleFlush).toDF()
    val batch = graft.operators.Temporal.funnel(all).collect().map { r =>
      def us(i: Int): Option[Long] =
        Option(r.getString(i)).map(s => java.sql.Timestamp.valueOf(s).getTime * 1000L)
      (r.getLong(0), (r.getInt(4), us(1), us(2), us(3)))
    }.toMap
    evicted.foreach { case (uid, snap) =>
      assert(batch(uid) === snap, s"user $uid diverges from batch q66")
    }
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
}
