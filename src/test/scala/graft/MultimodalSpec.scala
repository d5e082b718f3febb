package graft

import graft.multimodal.{MediaCodecs, Multimodal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val media = Multimodal.asMedia(tables.documents)

  /** 6×4 24bpp gradient, exercised through the real encoder. */
  private def testBmp: Array[Byte] = {
    val (w, h) = (6, 4)
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val d = (y * w + x) * 3
      rgb(d) = (x * 40).toByte; rgb(d + 1) = (y * 60).toByte; rgb(d + 2) = (x + y).toByte
    }
    MediaCodecs.encodeBmp(MediaCodecs.BmpImage(w, h, rgb))
  }

  /** Canonical 44-byte-header mono PCM16 WAV: 800 samples at 8 kHz. */
  private def testWav: Array[Byte] = {
    val n = 800
    val data = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * i / 50.0) * 3000).toInt
      data(i * 2) = s.toByte; data(i * 2 + 1) = (s >> 8).toByte
    }
    val out = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    out.put("data".getBytes).putInt(data.length).put(data)
    out.array()
  }

  private def mediaOf(payloads: (Long, Array[Byte])*) =
    payloads.toSeq.toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(lit("application/octet-stream").as("format"),
          lit("test").as("origin"), lit(0).as("content_length")).as("meta"))

  test("BMP: encode/decode round-trips pixels, features carry real dimensions") {
    val img = MediaCodecs.decodeBmp(testBmp).get
    assert(img.width === 6 && img.height === 4)
    val again = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(img)).get
    assert(again.rgb.sameElements(img.rgb))
    val f = Multimodal.extractFeatures(spark, mediaOf(1L -> testBmp)).collect()(0)
    assert(f.sniffed === "image/bmp" && f.width === 6 && f.height === 4)
    assert(f.sample_rate === -1)
  }

  test("BMP: resize takes the real path — thumb is a valid BMP with NN pixels") {
    val thumb = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(
      MediaCodecs.resizeBmp(MediaCodecs.decodeImage(testBmp).get, 2, 2))).get
    assert(thumb.width === 2 && thumb.height === 2)
    // nearest-neighbor: (x,y) samples source (x*6/2, y*4/2) of the gradient
    for (y <- 0 until 2; x <- 0 until 2) {
      val (sx, sy) = (x * 3, y * 2)
      val d = (y * 2 + x) * 3
      assert(thumb.rgb(d) === (sx * 40).toByte, s"R at ($x,$y)")
      assert(thumb.rgb(d + 1) === (sy * 60).toByte, s"G at ($x,$y)")
    }
  }

  test("WAV: decode yields real rate/duration/amplitude, frames are PCM slices") {
    val a = MediaCodecs.decodeWav(testWav).get
    assert(a.channels === 1 && a.sampleRate === 8000 && a.samples.length === 800)
    assert(a.durationMs === 100)
    val f = Multimodal.extractFeatures(spark, mediaOf(2L -> testWav)).collect()(0)
    assert(f.sniffed === "audio/wav" && f.sample_rate === 8000 && f.duration_ms === 100)
    assert(f.mean_amplitude > 0 && f.width === -1)
    // frames slice the decoded PCM stream (no header bytes), sample-aligned
    val frames = Multimodal.frameSample(spark, mediaOf(2L -> testWav),
      frameBytes = 64, everyN = 4).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 4, 8, 12, 16, 20, 24))
    val pcm = testWav.drop(44)
    frames.foreach { fr =>
      assert(fr.frame.sameElements(pcm.slice(fr.frame_idx * 64, fr.frame_idx * 64 + 64)))
    }
  }

  /** The same 6×4 gradient re-encoded through the JDK's ImageIO writer. */
  private def encodeVia(fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, (((x * 40) & 0xff) << 16) | (((y * 60) & 0xff) << 8) | ((x + y) & 0xff))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
    bos.toByteArray
  }

  test("PNG: JDK ImageIO path decodes real dimensions and exact pixels") {
    val png = encodeVia("png")
    assert(MediaCodecs.sniff(png) === "image/png")
    val img = MediaCodecs.decodeImage(png).get
    assert(img.width === 6 && img.height === 4)
    // PNG is lossless: pixels match the same gradient through the BMP codec
    assert(img.rgb.sameElements(MediaCodecs.decodeBmp(testBmp).get.rgb))
    val f = Multimodal.extractFeatures(spark, mediaOf(7L -> png)).collect()(0)
    assert(f.sniffed === "image/png" && f.width === 6 && f.height === 4)
  }

  test("JPEG: ImageIO decodes real dimensions; resize emits a real BMP thumb") {
    val jpg = encodeVia("jpg")
    assert(MediaCodecs.sniff(jpg) === "image/jpeg")
    val f = Multimodal.extractFeatures(spark, mediaOf(8L -> jpg)).collect()(0)
    assert(f.sniffed === "image/jpeg" && f.width === 6 && f.height === 4)
    assert(f.sample_rate === -1)
    // thumbs re-encode as BMP whatever the source
    val thumb = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp(
      MediaCodecs.resizeBmp(MediaCodecs.decodeImage(jpg).get, 2, 2))).get
    assert(thumb.width === 2 && thumb.height === 2)
  }

  test("corrupt headers fall back to the stub instead of failing the task") {
    // WAV with a negative chunk length: None, not an infinite chunk walk
    val negLen = testWav.clone()
    java.nio.ByteBuffer.wrap(negLen).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(16, -16)
    assert(MediaCodecs.decodeWav(negLen).isEmpty)
    // WAV claiming a huge data length: clamps to the bytes present
    val hugeLen = testWav.clone()
    java.nio.ByteBuffer.wrap(hugeLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue)
    assert(MediaCodecs.decodeWav(hugeLen).get.samples.length === 800)
    // BMP with a bogus pixel offset / absurd width: None, no OOB indexing
    val badOff = testBmp.clone()
    java.nio.ByteBuffer.wrap(badOff).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(10, Int.MaxValue - 7)
    assert(MediaCodecs.decodeBmp(badOff).isEmpty)
    val badW = testBmp.clone()
    java.nio.ByteBuffer.wrap(badW).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 0x40000000)
    assert(MediaCodecs.decodeBmp(badW).isEmpty)
    // and the pipeline degrades to byte-stub features rather than throwing
    val f = Multimodal.extractFeatures(spark, mediaOf(9L -> negLen)).collect()(0)
    assert(f.sample_rate === -1 && f.width === -1 && f.n_bytes === negLen.length)
  }

  test("WAV: encode/decode round-trips samples, rate and channels") {
    val a = MediaCodecs.decodeWav(testWav).get
    val again = MediaCodecs.decodeWav(MediaCodecs.encodeWav(a)).get
    assert(again.sampleRate === a.sampleRate && again.channels === a.channels)
    assert(again.samples.sameElements(a.samples))
    assert(MediaCodecs.encodeWav(a).sameElements(testWav),
      "canonical header: encode reproduces the fixture byte-for-byte")
  }

  test("m04: dHash survives container change and sub-step noise; inversion is far") {
    import MediaCodecs._
    val (w, h) = (18, 8)
    def gradient(perturb: Int): BmpImage = BmpImage(w, h,
      Array.tabulate(w * h * 3) { i =>
        val x = (i / 3) % w
        (math.min(x * 10, 255) + (if (i == 0) perturb else 0)).toByte
      })
    val base = gradient(0)
    val hBase = Multimodal.dHash64(base)
    // same pixels through BMP and PNG containers → identical hash (the
    // property byte fingerprints d01/t04 cannot have)
    assert(Multimodal.dHash64(decodeImage(encodeBmp(base)).get) === hBase)
    assert(Multimodal.dHash64(decodeImage(encodePng(base)).get) === hBase)
    // noise smaller than the gradient step flips no comparison
    assert(java.lang.Long.bitCount(hBase ^ Multimodal.dHash64(gradient(1))) <= 3)
    // inverted gradient flips (nearly) every comparison
    val inv = BmpImage(w, h, Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w; math.min((w - 1 - x) * 10, 255).toByte
    })
    assert(java.lang.Long.bitCount(hBase ^ Multimodal.dHash64(inv)) > 16)
  }

  test("m04: banded pairs equal brute-force hamming<=3; cross-container planted dup found") {
    import MediaCodecs._
    val (w, h) = (18, 8)
    val base = BmpImage(w, h, Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w; math.min(x * 10, 255).toByte
    })
    val inv = BmpImage(w, h, Array.tabulate(w * h * 3) { i =>
      val x = (i / 3) % w; math.min((w - 1 - x) * 10, 255).toByte
    })
    val planted = Seq(
      (1L, encodeBmp(base)), (2L, encodePng(base)), (3L, encodeBmp(inv)))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.hammingNearDups(
        Multimodal.imageHashes(spark, planted).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), "the cross-container duplicate, and only it")
    // banding is exact for the <=3 cap: equal to brute force on the corpus
    val hashes = Multimodal.imageHashes(
      spark, Multimodal.syntheticMedia(spark, tables.documents)).collect()
    val brute = (for {
      a <- hashes; b <- hashes
      if a.doc_id < b.doc_id && java.lang.Long.bitCount(a.phash ^ b.phash) <= 3
    } yield (a.doc_id, b.doc_id)).toSet
    val banded = Multimodal.hammingNearDups(
        Multimodal.imageHashes(
          spark, Multimodal.syntheticMedia(spark, tables.documents)).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("m05: audio hash is volume-invariant; a monotone contour inverts fully") {
    val n = 65 * 16 // window size 16, aligned with the amplitude blocks
    def contour(scale: Double): Array[Short] = Array.tabulate(n) { i =>
      val amp = ((i / 16 * 37) % 13 + 1) * 100 * scale
      (if (i % 2 == 0) amp else -amp).toShort
    }
    val h = Multimodal.aHash64(contour(1.0))
    assert(h != 0L && h != -1L, "the test contour must be non-trivial")
    // exact halving scales every window energy by 0.25 — hash unchanged
    assert(Multimodal.aHash64(contour(0.5)) === h)
    // WAV round-trip preserves it
    val wav = MediaCodecs.encodeWav(MediaCodecs.WavAudio(1, 8000, contour(1.0)))
    assert(Multimodal.aHash64(MediaCodecs.decodeWav(wav).get.samples) === h)
    // strictly increasing energy ramp = all ones; its reverse = all zeros
    val ramp = Array.tabulate(n)(i =>
      (if (i % 2 == 0) (i / 16 + 1) * 100 else -(i / 16 + 1) * 100).toShort)
    val hr = Multimodal.aHash64(ramp)
    assert(java.lang.Long.bitCount(hr ^ Multimodal.aHash64(ramp.reverse)) === 64)
  }

  test("m05: same-recording-at-half-volume pair found; banding exact vs brute force") {
    val n = 65 * 16
    def contour(scale: Double): Array[Short] = Array.tabulate(n) { i =>
      val amp = ((i / 16 * 37) % 13 + 1) * 100 * scale
      (if (i % 2 == 0) amp else -amp).toShort
    }
    val ramp = Array.tabulate(n)(i =>
      (if (i % 2 == 0) (i / 16 + 1) * 100 else -(i / 16 + 1) * 100).toShort)
    def wav(s: Array[Short]) = MediaCodecs.encodeWav(MediaCodecs.WavAudio(1, 8000, s))
    val planted = Seq(
      (1L, wav(contour(1.0))), (2L, wav(contour(0.5))), (3L, wav(ramp)))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.hammingNearDups(
        Multimodal.audioHashes(spark, planted).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), "the volume-changed duplicate, and only it")
    val hashes = Multimodal.audioHashes(
      spark, Multimodal.syntheticMedia(spark, tables.documents)).collect()
    val brute = (for {
      a <- hashes; b <- hashes
      if a.doc_id < b.doc_id && java.lang.Long.bitCount(a.phash ^ b.phash) <= 3
    } yield (a.doc_id, b.doc_id)).toSet
    val banded = Multimodal.hammingNearDups(
        Multimodal.audioHashes(
          spark, Multimodal.syntheticMedia(spark, tables.documents)).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("m02: synthetic media corpus exercises every real decode path (driver-row semantics)") {
    // the m02 driver row is rows+schema only (DuckDB can't decode media) —
    // this spec pins the decoded VALUES the driver row carries: each doc_id
    // determines its format, dimensions and sample count by construction
    val feats = Multimodal.extractFeatures(
      spark, Multimodal.syntheticMedia(spark, tables.documents.limit(30))).collect()
    assert(feats.length === 30)
    feats.foreach { f =>
      assert(f.sniffed === f.format, s"doc ${f.doc_id}: sniff must agree with declared format")
      (f.doc_id % 4) match {
        case 0 => // BMP through the byte parser
          assert(f.format === "image/bmp")
          assert(f.width === 4 + (f.doc_id % 5).toInt && f.height === 3 + (f.doc_id % 4).toInt)
          assert(f.sample_rate === -1)
        case 1 => // WAV through the RIFF parser
          val n = 160 + (f.doc_id % 100).toInt * 2
          assert(f.format === "audio/wav")
          assert(f.sample_rate === 8000 && f.duration_ms === n * 1000L / 8000)
          assert(f.mean_amplitude >= 0 && f.width === -1)
        case 2 => // PNG through JDK ImageIO
          assert(f.format === "image/png")
          assert(f.width === 5 + (f.doc_id % 4).toInt && f.height === 2 + (f.doc_id % 5).toInt)
          assert(f.sample_rate === -1)
        case _ => // MP4 through the ISO-BMFF demuxer
          assert(f.format === "video/mp4")
          assert(f.width === 16 * (1 + (f.doc_id % 3).toInt))
          assert(f.height === 9 * (1 + (f.doc_id % 2).toInt))
          assert(f.duration_ms === 500 + (f.doc_id % 40) * 25)
          assert(f.n_tracks === (if (f.doc_id % 8 == 3) 2 else 1))
          assert(f.n_frames === 2 + (f.doc_id % 3).toInt)
          assert(f.sample_rate === -1)
      }
    }
    // no row fell through to the byte stub: every payload really decoded
    assert(feats.forall(f => f.width > 0 || f.sample_rate > 0 || f.n_tracks > 0))
  }

  /** Two-track MP4: 3 video frames with distinct payloads + an audio trak. */
  private def testMp4: Array[Byte] = {
    val frames = Array.tabulate(3)(f => Array.tabulate(10 + f)(i => (f * 50 + i).toByte))
    MediaCodecs.encodeMp4(64, 36, 1500L, frames, withAudio = true)
  }

  test("MP4: ISO-BMFF demux yields real duration, tracks, dimensions and frame ranges") {
    val b = testMp4
    assert(MediaCodecs.sniff(b) === "video/mp4")
    val m = MediaCodecs.decodeMp4(b).get
    assert(m.brand === "isom")
    assert(m.durationMs === 1500L && m.nTracks === 2)
    assert(m.width === 64 && m.height === 36)
    assert(m.hasVideo && m.hasAudio)
    // the sample table addresses exactly the encoded frames, byte-for-byte
    assert(m.sampleRanges.length === 3)
    val frames = Array.tabulate(3)(f => Array.tabulate(10 + f)(i => (f * 50 + i).toByte))
    m.sampleRanges.zip(frames).foreach { case ((o, n), expect) =>
      assert(b.slice(o, o + n).sameElements(expect))
    }
    val f = Multimodal.extractFeatures(spark, mediaOf(11L -> b)).collect()(0)
    assert(f.sniffed === "video/mp4" && f.width === 64 && f.height === 36)
    assert(f.duration_ms === 1500L && f.n_tracks === 2 && f.n_frames === 3)
    assert(f.sample_rate === -1)
  }

  test("MP4: frameSample emits real video samples, not byte strides") {
    val b = testMp4
    val frames = Multimodal.frameSample(spark, mediaOf(12L -> b), everyN = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2)) // samples 0 and 2 of 3
    assert(frames(0).frame.sameElements(Array.tabulate(10)(i => i.toByte)))
    assert(frames(1).frame.sameElements(Array.tabulate(12)(i => (100 + i).toByte)))
  }

  test("MP4: corrupt boxes fall back to the stub instead of failing the task") {
    // a box whose declared size overruns the payload: None, not an OOB read
    val overrun = testMp4.clone()
    java.nio.ByteBuffer.wrap(overrun).putInt(0, Int.MaxValue)
    assert(MediaCodecs.decodeMp4(overrun).isEmpty)
    // a zero-size inner box loop can't spin forever (sibling cap): still None
    val tiny = "....ftypisom".getBytes("US-ASCII") // 12 bytes, size field garbage
    assert(MediaCodecs.decodeMp4(tiny).isEmpty)
    // stsz claiming a huge sample count: None, no allocation bomb
    val b = testMp4
    val stszAt = {
      var i = -1
      var o = 0
      while (o < b.length - 4 && i < 0) {
        if (b(o) == 's' && b(o + 1) == 't' && b(o + 2) == 's' && b(o + 3) == 'z' && i < 0) i = o
        o += 1
      }
      i
    }
    assert(stszAt > 0)
    val hugeCount = b.clone()
    java.nio.ByteBuffer.wrap(hugeCount).putInt(stszAt + 12, Int.MaxValue)
    assert(MediaCodecs.decodeMp4(hugeCount).isEmpty)
    // and the pipeline degrades to byte-stub features rather than throwing
    val f = Multimodal.extractFeatures(spark, mediaOf(13L -> overrun)).collect()(0)
    assert(f.n_tracks === -1 && f.width === -1 && f.n_bytes === overrun.length)
  }

  test("frameSample rejects non-positive framing params") {
    intercept[IllegalArgumentException] {
      Multimodal.frameSample(spark, mediaOf(1L -> testWav), frameBytes = 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.frameSample(spark, mediaOf(1L -> testWav), everyN = 0)
    }
  }

  test("binaryFile ingestion feeds the decode pipeline end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    java.nio.file.Files.write(dir.resolve("img.bmp"), testBmp)
    java.nio.file.Files.write(dir.resolve("sound.wav"), testWav)
    val media = sources.Sources.binaryFiles(spark, dir.toString)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length === 2)
    val img = feats.find(_.sniffed == "image/bmp").get
    assert(img.width === 6 && img.height === 4)
    val wav = feats.find(_.sniffed == "audio/wav").get
    assert(wav.sample_rate === 8000 && wav.duration_ms === 100)
  }

  test("media table carries binary payload + typed metadata struct") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    val row = media.select(col("meta.format"), col("meta.content_length")).first()
    assert(row.getString(0) === "text/plain")
  }

  test("feature extraction is deterministic and checksums match payload bytes") {
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length === tables.documents.count())
    // recompute one checksum on the driver for a sampled doc
    val doc = tables.documents.select("doc_id", "text").first()
    val bytes = doc.getString(1).getBytes("UTF-8")
    var sum = 0L; bytes.foreach(b => sum = sum * 31 + (b & 0xff))
    val f = feats.find(_.doc_id == doc.getLong(0)).get
    assert(f.checksum === sum)
    assert(f.n_bytes === bytes.length)
  }

  test("frame sampling keeps every Nth frame with correct sizes") {
    val out = Multimodal.frameSample(spark, media, frameBytes = 100, everyN = 3)
    val byDoc = out.collect().groupBy(_.doc_id)
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { frames =>
      assert(frames.map(_.frame_idx).forall(_ % 3 == 0))
      assert(frames.forall(_.frame.length <= 100))
    }
    // a doc with n bytes yields ceil((n/100)/3)-ish frames: spot-check one
    val doc = tables.documents.select("doc_id", "text").first()
    val n = doc.getString(1).getBytes("UTF-8").length
    val expected = (0 until math.max(1, n / 100) by 3).size
    assert(byDoc(doc.getLong(0)).length === expected)
  }

  test("m06: re-keyed payload copy pairs at jaccard 1; unrelated videos never pair") {
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, tables.documents.where(col("doc_id") < 10))
    val dupped = media.unionByName(
      media.where(col("doc_id") === 3).withColumn("doc_id", lit(9003L)))
    val pairs = Multimodal.videoNearDups(spark, dupped).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((3L, 9003L)) && pairs((3L, 9003L)) === 1.0,
      s"identical payload must pair at frame-jaccard 1: $pairs")
    assert(pairs.keySet.forall { case (a, b) => a == 3L && b == 9003L },
      s"distinct synthetic payloads must not cross-pair: $pairs")
  }

  test("m06: a trimmed copy (half the frames) pairs at the containment-predicted score") {
    import spark.implicits._
    // doc 6 is PNG (id % 4 == 2): both full and trimmed payloads take the
    // raw-byte framing path, so the copy's frames are a prefix subset and
    // J ≈ half/full — assert the pair lands with 0 < j < 1
    val full = Multimodal
      .syntheticMedia(spark, tables.documents.where(col("doc_id") === 6))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].collect()
    val trimmed = full.map { case (id, p) => (id + 7000L, p.take(p.length / 2)) }
    val media = (full ++ trimmed).toSeq.toDF("doc_id", "payload")
    val pairs = Multimodal.videoNearDups(spark, media,
      threshold = 0.2, frameBytes = 16, everyN = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 1, s"trimmed copy must pair: ${pairs.toSeq}")
    val j = pairs.head._3
    assert(j > 0.2 && j < 1.0, s"trim shows as partial frame overlap, got $j")
  }

  test("m08: a copy + trim re-upload chain collapses into ONE cluster with a min-id keeper") {
    import spark.implicits._
    // original (6), exact copy (7006), half trim (7106): copy-trim and
    // original-trim pair at partial scores, original-copy at 1.0 — only
    // the closure sees them as one family
    val full = Multimodal
      .syntheticMedia(spark, tables.documents.where(col("doc_id") === 6))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])].collect()
    val copies = full.map { case (id, p) => (id + 7000L, p) } ++
      full.map { case (id, p) => (id + 7100L, p.take(p.length / 2)) }
    val media = (full ++ copies).toSeq.toDF("doc_id", "payload")
    val got = Multimodal.videoDupClusters(spark, media,
      threshold = 0.2, frameBytes = 16, everyN = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSet === Set(6L, 7006L, 7106L), s"chain members: ${got.toSeq}")
    assert(got.forall(_._2 === 6L), "one cluster rooted at the min id")
    assert(got.forall(_._3 === 3L), "cluster size covers the whole chain")
    assert(got.filter(_._4).map(_._1).toSeq === Seq(6L), "keeper is the min id")
  }

  test("m09: clean corpus conforms; each planted violation lands in its rule") {
    import MediaCodecs._
    def media(id: Long, fmt: String, payload: Array[Byte],
              clen: Long): (Long, Array[Byte], String, Long) =
      (id, payload, fmt, clen)
    val bmp = encodeBmp(BmpImage(3, 2, Array.tabulate(18)(_.toByte)))
    val wav = encodeWav(WavAudio(1, 8000, Array.tabulate(40)(_.toShort)))
    val corrupt = bmp.clone(); corrupt(0) = 'X' // dead magic: sniff + decode fail
    val rows = Seq(
      media(1L, "image/bmp", bmp, bmp.length.toLong),            // clean
      media(2L, "audio/wav", wav, wav.length.toLong),            // clean
      media(3L, "image/bmp", wav, wav.length.toLong),            // mismatch (decodes as wav)
      media(4L, "image/bmp", corrupt, corrupt.length.toLong),    // sniff+decode fail
      media(5L, "audio/wav", wav, wav.length.toLong - 7))        // truncated transfer
    val df = rows.toDF("doc_id", "payload", "fmt", "clen")
      .select(col("doc_id"), col("payload"),
        struct(col("fmt").as("format"), lit("fixture").as("origin"),
          col("clen").as("content_length")).as("meta"))
    val got = Multimodal.conformanceAudit(spark, df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(("image/bmp", "sniff_mismatch")) === ((3L, 2L)),
      "the wav-as-bmp and the corrupt header both mismatch")
    assert(got(("image/bmp", "decode_failed")) === ((3L, 1L)),
      "only the dead-magic payload fails decode (the wav-as-bmp decodes as wav)")
    assert(got(("image/bmp", "length_mismatch")) === ((3L, 0L)))
    assert(got(("audio/wav", "length_mismatch")) === ((2L, 1L)),
      "the truncated content_length is flagged")
    assert(got(("audio/wav", "sniff_mismatch")) === ((2L, 0L)))
    assert(got(("audio/wav", "decode_failed")) === ((2L, 0L)))
    assert(got.values.forall { case (n, bad) => bad <= n })
    // the synthetic corpus is fully conformant
    val clean = Multimodal.conformanceAudit(spark,
      Multimodal.syntheticMedia(spark, tables.documents)).collect()
    assert(clean.nonEmpty && clean.forall(_.getLong(3) == 0L),
      s"synthetic media must conform: ${clean.mkString(";")}")
  }

  test("admitByPhash: standing dups rejected, batch followers rejected, fresh admitted") {
    val standing = Seq((100L, 0x0L)).toDF("doc_id", "phash")
    val far = 0xFFFF0000FFFF0000L   // differs from 0x0 in 32 bits
    val batch = Seq(
      (1L, 0x3L),        // hamming 2 from standing -> dup_standing
      (2L, far),         // fresh -> admitted
      (3L, far ^ 0x1L),  // hamming 1 from batch doc 2 -> dup_in_batch
      (4L, 0x00FF00FF00FF00FFL)) // fresh -> admitted
      .toDF("doc_id", "phash")
    val got = Multimodal.admitByPhash(standing, batch, maxHamming = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((true, false, false)))
    assert(got(2L) == ((false, false, true)))
    assert(got(3L) == ((false, true, false)))
    assert(got(4L) == ((false, false, true)))
  }
}
