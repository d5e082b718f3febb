package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: opaque binary payloads + typed metadata.
  *
  * The engine's convention for image/audio/video at 100 TB: payloads travel
  * as a `binary` column (parquet keeps them out of dictionary/stats paths),
  * metadata as a typed struct alongside, and decode/feature-extraction runs
  * partition-local over iterator batches (`mapPartitions`) so a native
  * decoder is amortized per-partition, never per-row.
  *
  * Decode/frame-sample are REAL for every format the JDK covers —
  * BMP 24bpp via the pure byte parser, JPEG/PNG via `javax.imageio`
  * (shipped in every standard JDK), WAV PCM16 via the pure RIFF parser,
  * MP4 via the pure ISO-BMFF demuxer (see [[MediaCodecs]]): dimensions,
  * pixels, nearest-neighbor thumbnails, sample rates, PCM frames, movie
  * duration/tracks and per-sample video frames. Only the codec layer
  * INSIDE an MP4 sample (H.264 etc.) is out of JDK reach — sample
  * payloads stay opaque bytes; everything the container declares is
  * decoded for real, with `sniffed` recording which path ran.
  */
object Multimodal {

  /** Typed row for the decoded-feature output. Media-specific fields are -1
    * when the payload isn't that medium (or needs an absent codec). */
  final case class MediaFeatures(
      doc_id: Long, format: String, n_bytes: Int, first_byte: Int, checksum: Long,
      sniffed: String = "application/octet-stream",
      width: Int = -1, height: Int = -1,
      sample_rate: Int = -1, duration_ms: Long = -1L, mean_amplitude: Double = -1.0,
      n_tracks: Int = -1, n_frames: Int = -1)

  /** Wrap a text corpus as a multimodal table: payload = utf-8 bytes,
    * metadata struct carried alongside. (With real media, payload comes off
    * `spark.read.format("binaryFile")` with the same shape.) */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("text/plain").as("format"),
        col("source").as("origin"),
        // long to match Sources.binaryFiles' meta schema (file lengths)
        col("n_chars").cast("long").as("content_length")).as("meta"))

  /** Deterministic REAL-media corpus derived from a text corpus: each
    * document re-materializes as a valid BMP / WAV / PNG / MP4 payload
    * (cycling on doc_id) whose pixels/samples/frames derive from the
    * document's text bytes and whose dimensions/length derive from its
    * doc_id. This is the m02 driver fixture: DuckDB can't decode media, so
    * the m02 row is a rows+schema check whose decoded VALUES are pinned by
    * MultimodalSpec (the same honest pattern as d06/s02) — unlike m01,
    * whose oracle covers only the byte-stub features of a text/plain
    * corpus, every m02 row exercises a real decoder (byte-parser BMP, RIFF
    * WAV, ImageIO PNG, ISO-BMFF MP4).
    * Partition-local, zero shuffle: fixture encode is a map over the scan. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          def b(i: Int): Byte = if (bytes.isEmpty) 0 else bytes(i % bytes.length)
          (id % 4) match {
            case 0 =>
              val w = 4 + (id % 5).toInt; val h = 3 + (id % 4).toInt
              val rgb = Array.tabulate(w * h * 3)(b)
              (id, "image/bmp", MediaCodecs.encodeBmp(MediaCodecs.BmpImage(w, h, rgb)))
            case 1 =>
              val n = 160 + (id % 100).toInt * 2
              val samples = Array.tabulate(n)(i =>
                ((b(2 * i) & 0xff) | ((b(2 * i + 1) & 0x3f) << 8)).toShort)
              (id, "audio/wav", MediaCodecs.encodeWav(MediaCodecs.WavAudio(1, 8000, samples)))
            case 2 =>
              val w = 5 + (id % 4).toInt; val h = 2 + (id % 5).toInt
              val rgb = Array.tabulate(w * h * 3)(b)
              (id, "image/png", MediaCodecs.encodePng(MediaCodecs.BmpImage(w, h, rgb)))
            case _ => // MP4 through the ISO-BMFF demuxer
              val nf = 2 + (id % 3).toInt
              val frames = Array.tabulate(nf)(f =>
                Array.tabulate(8 + (id % 5).toInt)(i => b(f * 16 + i)))
              val w = 16 * (1 + (id % 3).toInt); val h = 9 * (1 + (id % 2).toInt)
              (id, "video/mp4", MediaCodecs.encodeMp4(w, h, 500 + (id % 40) * 25,
                frames, withAudio = id % 8 == 3)) // ids are odd here: half get audio
          }
        }
      }
      .toDF("doc_id", "fmt", "payload")
    rows.select(col("doc_id"), col("payload"),
      struct(col("fmt").as("format"), lit("synthetic").as("origin"),
        length(col("payload")).cast("long").as("content_length")).as("meta"))
  }

  /** Byte-level fallback features for payloads no decoder recognizes — and
    * the deterministic checksum every payload gets regardless of format.
    * BMP/JPEG/PNG/WAV/MP4 never stop here: their real decoders in
    * [[MediaCodecs]] run first. */
  private def decodeStub(payload: Array[Byte]): (Int, Long) = {
    var checksum = 0L
    var i = 0
    while (i < payload.length) { checksum = checksum * 31 + (payload(i) & 0xff); i += 1 }
    (if (payload.isEmpty) -1 else payload(0) & 0xff, checksum)
  }

  /** Typed row for sampled frames. */
  final case class FrameSample(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: keep every `everyN`-th frame, one output row per kept
    * frame (explode shape) so downstream per-frame featurizers parallelize
    * over frames, not media files. WAV payloads take the real path — frames
    * are `frameBytes`-sized slices of the decoded PCM stream, aligned to
    * sample boundaries (each frame is playable audio). MP4 payloads take the
    * real demux path: each frame is one sample of the video track, sliced at
    * the byte ranges the stsz/stsc/stco sample table declares (the encoded
    * frame a codec would decode — `frameBytes` doesn't apply, the container
    * sets the frame size). Other payloads use raw byte framing as the
    * declared codec-less stand-in. */
  def frameSample(spark: SparkSession, media: DataFrame,
                  frameBytes: Int = 256, everyN: Int = 4): Dataset[FrameSample] = {
    require(frameBytes >= 1, s"frameBytes=$frameBytes must be >= 1")
    require(everyN >= 1, s"everyN=$everyN must be >= 1")
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val mp4Frames = MediaCodecs.decodeMp4(payload)
            .map(_.sampleRanges).filter(_.nonEmpty)
          if (mp4Frames.isDefined) {
            val ranges = mp4Frames.get
            (0 until ranges.length by everyN).iterator.map { f =>
              val (o, n) = ranges(f)
              FrameSample(id, f, payload.slice(o, o + n))
            }
          } else frameBytesOf(id, payload, frameBytes, everyN)
        }
      }
  }

  /** m06: cross-video duplicate detection — exact Jaccard over each
    * video's FRAME-PAYLOAD hash set: two media files sharing enough
    * identical encoded frames (re-muxed containers, trims, re-uploads —
    * cases where the file bytes differ but the frame payloads survive) are
    * near-dups even though d01 sees different files and m04/m05 need a
    * decodable codec. Frames come from [[frameSample]] (real ISO-BMFF
    * sample ranges for MP4, PCM/byte framing otherwise), so NO codec
    * decode is required — the frame bytes ARE the identity.
    *
    * This is d02's exact inverted-index shape with shingle := frame hash:
    * candidates meet on a shared frame, verification counts common frames,
    * the score is one division. The d03 MinHash sketch is the documented
    * scale route (signatures over frame hashes — fixed bytes/video), the
    * same declared trade as d02→d03.
    *
    * Scale shape: frame explode is partition-local; the (fh) self-join
    * touches only frames shared by ≥2 videos; one pair-keyed aggregation.
    * Output ∝ real near-dup pairs. */
  /** m06's verified pair frame, through [[graft.Memo]]: m06 serves it and
    * m08's closure consumes the SAME pair set, so the frame self-join +
    * verify runs once per session; the frame is ∝ real near-dup pairs. */
  def videoNearDups(spark: SparkSession, media: DataFrame,
                    threshold: Double = 0.5,
                    frameBytes: Int = 256, everyN: Int = 4): DataFrame =
    graft.Memo.frame("Multimodal.videoPairs", media, threshold, frameBytes, everyN)(
      videoNearDupsOf(spark, media, threshold, frameBytes, everyN))

  private def videoNearDupsOf(spark: SparkSession, media: DataFrame,
                              threshold: Double,
                              frameBytes: Int, everyN: Int): DataFrame = {
    // the (doc_id, fh) frame is read three times below (sizes, candidates,
    // verify), and each read re-demuxes containers without the memo
    val frames = graft.Memo.frame("Multimodal.frameHashes", media, frameBytes, everyN)(
      frameSample(spark, media, frameBytes, everyN).toDF()
        .select(col("doc_id"), xxhash64(col("frame")).as("fh")).distinct())
    val sizes = frames.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = frames.select(col("doc_id").as("d1"), col("fh"))
      .join(frames.select(col("doc_id").as("d2"), col("fh")), Seq("fh"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double")).as("frame_jaccard"))
      .where(col("frame_jaccard") >= threshold)
  }

  /** m08: video duplicate clusters — the d07/d22 transitive closure
    * instantiated over m06's frame-payload pair family (the FOURTH pair
    * family after shingle-LSH/embedding/edit): a re-upload chain
    * original → re-mux → trim pairs pairwise at different scores, and
    * only the closure collapses the whole chain to one canonical keeper
    * (min doc_id — `keep` in the output, the clusterTable contract).
    * Rows-only by the m02 media class (DuckDB cannot demux payloads);
    * MultimodalSpec pins the planted copy + trim chain collapsing into
    * ONE cluster. Scale shape: m06's banded pair cost + CC over the pair
    * graph only (the d07 budget — rounds ≤ ⌈log₂ diameter⌉+1). */
  def videoDupClusters(spark: SparkSession, media: DataFrame,
                       threshold: Double = 0.5,
                       frameBytes: Int = 256, everyN: Int = 4): DataFrame =
    graft.dedup.Clusters.clusterTable(
      graft.dedup.Clusters.connectedComponents(
        videoNearDups(spark, media, threshold, frameBytes, everyN)
          .select(col("d1"), col("d2"))))

  /** The WAV/raw-byte framing path of [[frameSample]] (non-MP4 payloads). */
  private def frameBytesOf(id: Long, payload: Array[Byte],
                           frameBytes: Int, everyN: Int): Iterator[FrameSample] = {
    // even-aligning the step is a PCM16 concern only: raw-byte framing
    // of non-WAV payloads keeps frameBytes exactly as documented
    val (bytes, step) = MediaCodecs.decodeWav(payload) match {
      case Some(a) => // PCM16: re-pack the sample stream (header dropped)
        val pcm = new Array[Byte](a.samples.length * 2)
        var i = 0
        while (i < a.samples.length) {
          pcm(i * 2) = a.samples(i).toByte
          pcm(i * 2 + 1) = (a.samples(i) >> 8).toByte
          i += 1
        }
        (pcm, math.max(2, frameBytes & ~1))
      case None => (payload, frameBytes)
    }
    val nFrames = math.max(1, bytes.length / step)
    (0 until nFrames by everyN).iterator.map { f =>
      FrameSample(id, f, bytes.slice(f * step,
        math.min((f + 1) * step, bytes.length)))
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image: nearest-neighbor
    * resize to 9×8, grayscale, one bit per adjacent-pixel comparison per
    * row. The standard cheap perceptual fingerprint — stable under
    * re-encoding, scaling and small noise (it thresholds on gradient
    * DIRECTION, not pixel values), which is exactly what byte-level
    * fingerprints (d01/t04) cannot see: the same photo saved as BMP and
    * PNG shares no bytes but shares this hash. */
  def dHash64(img: MediaCodecs.BmpImage): Long = {
    val small = MediaCodecs.resizeBmp(img, 9, 8)
    def gray(x: Int, y: Int): Int = {
      val i = (y * 9 + x) * 3
      (small.rgb(i) & 0xff) + (small.rgb(i + 1) & 0xff) + (small.rgb(i + 2) & 0xff)
    }
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        h = (h << 1) | (if (gray(x, y) > gray(x + 1, y)) 1L else 0L)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Typed row for per-image perceptual hashes. */
  final case class ImageHash(doc_id: Long, phash: Long)

  /** m04 (hashes): perceptual hash per decodable image payload (BMP via
    * the byte parser, JPEG/PNG via ImageIO); non-image payloads drop out.
    * Partition-local, zero shuffle — the decoder amortizes per partition
    * like every other media path. */
  def imageHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeImage(p).map(img => ImageHash(id, dHash64(img)))
      })
  }

  /** Generic perceptual near-dup pair join — the d04 SimHash shape over
    * any 64-bit (doc_id, phash) sketch column: band the 64 bits into
    * 4×16-bit keys (hamming ≤ 3 ⇒ pigeonhole, at least one band identical
    * — recall 1 within the cap), self-join on (band, key), verify with
    * bit_count. Candidates only ever meet inside a shared band bucket,
    * never an all-pairs product; the pair set is exact for the ≤ 3
    * threshold. Shared by m04 (images) and m05 (audio). */
  def hammingNearDups(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4x16 banding guarantees recall only to hamming 3")
    val banded = hashes.select(col("doc_id"), col("phash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bb"))
      .select(col("doc_id"), col("phash"), col("bb.band").as("band"), col("bb.key").as("key"))
    banded.select(col("doc_id").as("d1"), col("phash").as("h1"), col("band"), col("key"))
      .join(banded.select(col("doc_id").as("d2"), col("phash").as("h2"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Perceptual admission — the d08/d10 ingestion decision at the media
    * grain: for each batch sketch, is it a visual/audio near-dup of the
    * STANDING corpus (banded cross probe against the durable 8-byte/item
    * phash table — the m04 index, never the media bytes), or of an
    * earlier batch member (the [[hammingNearDups]] pair rule: the
    * smaller doc_id wins)? One row per batch item with both flags and the
    * admit verdict, so the caller can sink admitted hashes back into the
    * standing table (counts and bytes ∝ batch — history never re-decoded).
    * Banding gives recall 1 for hamming ≤ 3 by pigeonhole, same as the
    * pair path; precision is exact (bit_count verify). */
  def admitByPhash(standing: DataFrame, batch: DataFrame,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4x16 banding guarantees recall only to hamming 3")
    def banded(df: DataFrame, id: String, h: String): DataFrame =
      df.select(col("doc_id").as(id), col("phash").as(h),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("phash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bb"))
        .select(col(id), col(h), col("bb.band").as("band"), col("bb.key").as("key"))
    val standingHits = banded(batch, "doc_id", "h1")
      .join(banded(standing, "s_id", "h2"), Seq("band", "key"))
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .select(col("doc_id")).distinct()
      .withColumn("_s", lit(true))
    val followers = hammingNearDups(batch, maxHamming)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("_b", lit(true))
    batch.join(standingHits, Seq("doc_id"), "left")
      .join(followers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("_s"), lit(false)).as("dup_standing"),
        coalesce(col("_b"), lit(false)).as("dup_in_batch"),
        (coalesce(col("_s"), lit(false)) === false &&
          coalesce(col("_b"), lit(false)) === false).as("admitted"))
  }

  /** 64-bit audio energy-contour hash over decoded PCM: 65 equal sample
    * windows, mean energy per window, one bit per consecutive-window
    * energy comparison. The audio sibling of [[dHash64]] — it thresholds
    * on energy DIRECTION, so it is invariant to uniform volume change
    * (scaling samples by c scales every window energy by c², preserving
    * all comparisons) and to container/codec byte differences, which is
    * what byte fingerprints cannot see: the same recording at half volume
    * shares no bytes but shares this hash. */
  def aHash64(samples: Array[Short]): Long = {
    val nw = 65
    if (samples.isEmpty) return 0L
    val e = new Array[Double](nw)
    var w = 0
    while (w < nw) {
      val from = (w.toLong * samples.length / nw).toInt
      val to = ((w + 1).toLong * samples.length / nw).toInt
      var s = 0.0
      var i = from
      while (i < to) { val v = samples(i).toDouble; s += v * v; i += 1 }
      e(w) = s / math.max(1, to - from)
      w += 1
    }
    var h = 0L
    var i = 0
    while (i < 64) { h = (h << 1) | (if (e(i + 1) > e(i)) 1L else 0L); i += 1 }
    h
  }

  /** m05 (hashes): perceptual hash per decodable audio payload (WAV PCM16
    * via the pure RIFF parser); non-audio payloads drop out. Partition-
    * local, zero shuffle; pairs come from [[hammingNearDups]], exactly as
    * m04's images do. */
  def audioHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        MediaCodecs.decodeWav(p).map(a => ImageHash(id, aHash64(a.samples)))
      })
  }

  /** m01: partition-local feature extraction over the binary payload.
    * One decoder instantiation per partition (the expensive part with real
    * codecs), iterator-to-iterator so spill/codegen pipelining is preserved.
    * BMP/JPEG/PNG payloads get real decoded dimensions, WAV gets real
    * sample rate / duration / amplitude, MP4 gets real container duration /
    * track count / declared dimensions / frame count; everything else keeps
    * the deterministic byte-level features. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, format) =>
          val (first, sum) = decodeStub(payload)
          val base = MediaFeatures(id, format, payload.length, first, sum,
            sniffed = MediaCodecs.sniff(payload))
          MediaCodecs.decodeImage(payload) match {
            case Some(img) => base.copy(width = img.width, height = img.height)
            case None => MediaCodecs.decodeWav(payload) match {
              case Some(a) => base.copy(sample_rate = a.sampleRate,
                duration_ms = a.durationMs,
                mean_amplitude = MediaCodecs.meanAbsAmplitude(a))
              case None => MediaCodecs.decodeMp4(payload) match {
                case Some(m) => base.copy(width = m.width, height = m.height,
                  duration_ms = m.durationMs, n_tracks = m.nTracks,
                  n_frames = m.sampleRanges.length)
                case None => base
              }
            }
          }
        }
      }
  }

  /** m09: container-conformance audit — q127's ingestion-gate shape for
    * binary media: per (declared format, rule), row and violation counts
    * over sniff mismatch (magic bytes disagree with the declared MIME),
    * decode failure (the sniffed format's decoder rejects the payload —
    * truncated boxes, bad headers), length mismatch (meta.content_length
    * vs actual payload bytes — the transfer-truncation check) and empty
    * content (zero pixels/samples/frames after a successful decode). The
    * audit a multimodal pipeline runs BEFORE paying for feature
    * extraction; violations are counted, never dropped (the q127
    * review-artifact rule). Rows-only by the m02 media class (DuckDB
    * cannot decode); the compensating MultimodalSpec plants one violation
    * of each rule and pins the exact counts.
    *
    * Scale shape: decode is partition-local (the m01 discipline, zero
    * shuffle before the rollup); the rollup is one (format)-bounded
    * partial-agg exchange and a 4-way rule explode. */
  def conformanceAudit(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val flags = media.select(col("doc_id"), col("payload"),
        col("meta.format").as("format"), col("meta.content_length").as("clen"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { rows =>
        rows.map { case (_, p, fmt, clen) =>
          val sniffed = MediaCodecs.sniff(p)
          val (ok, empty) = sniffed match {
            case "image/bmp" | "image/png" | "image/jpeg" =>
              MediaCodecs.decodeImage(p) match {
                case Some(i) => (true, i.width * i.height == 0)
                case None => (false, false)
              }
            case "audio/wav" => MediaCodecs.decodeWav(p) match {
              case Some(a) => (true, a.samples.isEmpty)
              case None => (false, false)
            }
            case "video/mp4" => MediaCodecs.decodeMp4(p) match {
              case Some(m) => (true, m.sampleRanges.isEmpty)
              case None => (false, false)
            }
            case _ => (false, false) // no decoder claims the payload
          }
          (fmt, sniffed != fmt, !ok, clen != p.length.toLong, empty)
        }
      }
      .toDF("format", "sniff_mismatch", "decode_failed",
        "length_mismatch", "empty_content")
    val rules = Seq("sniff_mismatch", "decode_failed",
      "length_mismatch", "empty_content")
    val aggs = count(lit(1)).as("n_rows") +:
      rules.map(r => sum(when(col(r), 1L).otherwise(0L)).as(r))
    flags.groupBy(col("format")).agg(aggs.head, aggs.tail: _*)
      .select(col("format"), col("n_rows"),
        explode(array(rules.map(r =>
          struct(lit(r).as("rule"), col(r).as("n_bad"))): _*)).as("r"))
      .select(col("format"), col("r.rule").as("rule"),
        col("n_rows"), col("r.n_bad").as("n_bad"))
  }

  /** m07: modality-alignment audit — the join nothing else in the engine
    * exercises: documents ⟗ embeddings on doc_id = vec_id, rolled up per
    * source: how much of each source's text actually HAS a vector (and
    * how many vectors float free of any document). The coverage number a
    * multimodal training run checks before assuming it can retrieve-
    * augment or semantically dedup a source — a source with align_rate
    * 0.2 cannot be SemDeDup'd (d09) without first backfilling embeddings.
    * Unmatched vectors group under source '(none)'.
    *
    * Exactness: counts off one full outer join, align_rate the single
    * guarded division — fully oracle-checked (the m-family's first exact
    * member; m02+ are rows-only because DuckDB cannot decode media, but
    * alignment is pure relational bookkeeping). Scale shape: one
    * equi-join exchange on the id (embeddings are the small side at text
    * corpus scale — broadcast below threshold), one partial-agg exchange
    * on source. */
  def modalityAlign(docs: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = docs.select(col("doc_id"), col("source"))
    val v = emb.select(col("vec_id"))
    d.join(v, d("doc_id") === v("vec_id"), "full_outer")
      .select(
        coalesce(col("source"), lit("(none)")).as("source"),
        when(col("doc_id").isNotNull, 1L).otherwise(0L).as("is_doc"),
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
          .otherwise(0L).as("is_aligned"),
        when(col("doc_id").isNull, 1L).otherwise(0L).as("is_vec_only"))
      .groupBy(col("source"))
      .agg(sum(col("is_doc")).as("n_docs"),
        sum(col("is_aligned")).as("n_with_vec"),
        sum(col("is_vec_only")).as("n_vec_only"))
      .select(col("source"), col("n_docs"), col("n_with_vec"), col("n_vec_only"),
        when(col("n_docs") > 0,
          col("n_with_vec").cast("double") / col("n_docs").cast("double"))
          .otherwise(lit(0.0)).as("align_rate"))
  }
}
