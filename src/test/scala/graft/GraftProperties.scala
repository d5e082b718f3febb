package graft

import graft.plans.RollingHash
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5): the reference's only real unit
  * tests pinned string/argv fidelity (`ShellEscapeUtilsTest`); here the same
  * concern becomes round-trip properties for the engine's sources/sinks and
  * algebraic laws for its hashing/dedup primitives. Runs under ScalaCheck's
  * native sbt framework (no scalatest bridge needed).
  */
object GraftProperties extends Properties("graft") {
  import SparkTestSession.spark
  import spark.implicits._

  // Spark-job-per-case properties are capped at 10 cases to keep `sbt test`
  // fast; pure-JVM properties keep the default 100.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val nastyChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    1 -> Gen.oneOf(',', '"', '\'', '\n', '\t', '\\', ';', '|', ' '),
    1 -> Gen.oneOf('é', 'ß', '漢', '☃'))
  private val nastyString: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.stringOfN(n, nastyChar))
  private val batch: Gen[List[String]] =
    Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, nastyString))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("out").toString

  property("csv sink/scan round-trips arbitrary cell content") = forAll(batch) { rows =>
    val df = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "v")
    val path = tmp("prop_csv")
    // lossless config: Spark's csv writer trims cell whitespace by default
    df.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .schema(df.schema).csv(path)
      // Spark's csv reader yields null for empty cells — normalize for compare
      .select(col("id"), coalesce(col("v"), lit("")).as("v"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2).toList
    back == rows
  }

  property("json sink/scan round-trips arbitrary cell content") = forAll(batch) { rows =>
    val df = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "v")
    val path = tmp("prop_json")
    df.write.mode("overwrite").json(path)
    val back = spark.read.schema(df.schema).json(path)
      .as[(Long, String)].collect().sortBy(_._1).map(_._2).toList
    back == rows
  }

  property("gzip text sink round-trips lines (reference K2 parity)") =
    forAll(Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, nastyString.map(_.replaceAll("[\n\r]", "_"))))) { lines =>
      val path = tmp("prop_gz")
      graft.sources.Sources.writeGzipText(lines.toDS(), path)
      val dir = new java.io.File(path)
      val gz = dir.listFiles().exists(_.getName.endsWith(".gz"))
      val back = spark.read.textFile(path).collect().sorted.toList
      gz && back == lines.sorted
    }

  // ---- pure-JVM algebraic laws (100 cases each) ---------------------------

  property("rolling hash composes: h(a++b) = h(a)*B^|b| + h(b)") = {
    val s = Gen.chooseNum(0, 60).flatMap(n => Gen.stringOfN(n, nastyChar))
    Prop.forAllNoShrink(s, s) { (a, b) =>
      val bb = b.getBytes("UTF-8")
      var pow = 1L
      bb.indices.foreach(_ => pow *= RollingHash.Base) // wrapping 64-bit
      RollingHash.hash((a + b).getBytes("UTF-8")) ==
        RollingHash.hash(a.getBytes("UTF-8")) * pow + RollingHash.hash(bb)
    }
  }

  property("fingerprint is whitespace-run and case invariant") = {
    val word = Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    val words = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, word))
    val ws = Gen.chooseNum(1, 3).flatMap(n => Gen.stringOfN(n, Gen.oneOf(' ', '\t', '\n')))
    forAll(words, ws) { (w, sep) =>
      val canonical = w.mkString(" ").toLowerCase
      val mangled = w.map(s => if (s.hashCode % 2 == 0) s.toUpperCase else s)
        .mkString(sep) + sep
      val out = Seq(canonical, mangled).toDF("text")
        .select(graft.functions.TextFns.fingerprint(col("text")).as("f"))
        .as[String].collect()
      out(0) == out(1)
    }
  }

  property("column rolling_hash equals driver-side hash (codegen path)") =
    forAll(batch) { rows =>
      graft.plans.GraftExtensions.register(spark)
      val got = rows.toDF("text")
        .select(graft.plans.GraftExtensions.rolling_hash(col("text")).as("h"))
        .as[Long].collect().toList
      got == rows.map(s => RollingHash.hash(s.getBytes("UTF-8")))
    }

  property("BMP encode∘decode is identity on arbitrary images") = {
    val img = for {
      w <- Gen.chooseNum(1, 24); h <- Gen.chooseNum(1, 24)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield graft.multimodal.MediaCodecs.BmpImage(w, h, px.toArray)
    Prop.forAllNoShrink(img) { im =>
      val back = graft.multimodal.MediaCodecs.decodeBmp(
        graft.multimodal.MediaCodecs.encodeBmp(im)).get
      back.width == im.width && back.height == im.height &&
        back.rgb.sameElements(im.rgb)
    }
  }

  property("WAV decode recovers arbitrary PCM16 streams exactly") = {
    val wav = for {
      rate <- Gen.oneOf(8000, 16000, 44100)
      n <- Gen.chooseNum(0, 400)
      samples <- Gen.listOfN(n, Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (rate, samples.map(_.toShort))
    Prop.forAllNoShrink(wav) { case (rate, samples) =>
      val data = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        data(i * 2) = s.toByte; data(i * 2 + 1) = (s >> 8).toByte
      }
      val buf = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      buf.put("data".getBytes).putInt(data.length).put(data)
      graft.multimodal.MediaCodecs.decodeWav(buf.array()) match {
        // payloads under the 44-byte header floor are (correctly) not WAV
        case None => buf.array().length < 44 + 2
        case Some(a) =>
          a.sampleRate == rate && a.samples.toList == samples
      }
    }
  }

  property("corrupt byte soup never crashes any decoder (total functions)") = {
    val soup = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    // bias toward magic-byte prefixes so the parsers actually engage
    val magic = Gen.oneOf(
      Array[Byte]('B', 'M'),
      "RIFFxxxxWAVE".getBytes("US-ASCII"),
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))
    val payload = Gen.frequency(
      1 -> soup,
      2 -> Gen.zip(magic, soup).map { case (m, s) => m ++ s })
    Prop.forAllNoShrink(payload) { b =>
      // must return (possibly None), never throw or hang
      graft.multimodal.MediaCodecs.decodeBmp(b)
      graft.multimodal.MediaCodecs.decodeWav(b)
      graft.multimodal.MediaCodecs.decodeImage(b)
      graft.multimodal.MediaCodecs.sniff(b)
      true
    }
  }


  // ---- p06 chunk dedup laws ------------------------------------------------

  private val wordCorpus: Gen[List[String]] = for {
    nDocs <- Gen.chooseNum(1, 5)
    docs <- Gen.listOfN(nDocs, Gen.chooseNum(1, 20))
  } yield docs.zipWithIndex.map { case (n, i) =>
    // disjoint per-doc vocabularies: every chunk is globally unique
    (0 until n).map(j => s"d${i}w$j").mkString(" ")
  }

  property("segmentDedup is identity when every chunk is globally unique") =
    forAll(wordCorpus) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.operators.DataPipeline.segmentDedup(df, 4)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      out.zip(texts).forall { case ((_, clean, kept, total), orig) =>
        clean == orig && kept == total
      }
    }

  property("segmentDedup empties an exact later copy of any document") =
    forAll(Gen.chooseNum(1, 24)) { n =>
      val text = (0 until n).map(j => s"w$j").mkString(" ")
      val df = List((1L, text), (2L, text)).toDF("doc_id", "text")
      val out = graft.operators.DataPipeline.segmentDedup(df, 4)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      out(0)._2 == text && out(1)._2 == "" && out(1)._3 == 0L
    }

  property("TopKAgg equals sort-then-take on every key") =
    forAll(Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(-100, 100), Gen.chooseNum(0L, 500L))))) { xs =>
      val k = 3
      val df = xs.map { case (key, score, id) => (key, score.toDouble, id) }
        .toDF("query_id", "cos", "neighbor_id")
      val got = graft.similarity.Knn.topKPerKey(df, k)
        .as[(Long, Int, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._4, r._3)).toList).toMap
      val expected = xs.groupBy(_._1).view.mapValues {
        g => g.map { case (_, s, id) => (s.toDouble, id) }
          .distinct.sortBy { case (s, id) => (-s, id) }.take(k)
      }.toMap
      // TopKAgg dedupes identical (score,id) pairs only if upstream does;
      // compare against the same multiset semantics: take top-k of all rows
      val expectedMultiset = xs.groupBy(_._1).view.mapValues {
        g => g.map { case (_, s, id) => (s.toDouble, id) }
          .sortBy { case (s, id) => (-s, id) }.take(k)
      }.toMap
      got == expectedMultiset || got == expected
    }

  property("shuffleLayout is a permutation for any shard count") =
    forAll(Gen.chooseNum(1, 64), Gen.chooseNum(1, 40)) { (nShards, nDocs) =>
      val df = (0 until nDocs)
        .map(i => (i.toLong, "s")).toDF("doc_id", "source")
      val out = graft.operators.DataPipeline.shuffleLayout(df, nShards)
        .select("doc_id", "shard", "pos")
        .as[(Long, Int, Long)].collect()
      out.map(_._1).toSet == (0L until nDocs).toSet &&
        out.forall { case (_, s, _) => s >= 0 && s < nShards } &&
        out.groupBy(_._2).forall { case (_, g) =>
          g.map(_._3).sorted.toList == (1L to g.length).toList }
    }

  property("lexicalDiversity invariants hold on arbitrary text") =
    forAll(Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, nastyString))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = graft.operators.TextQueries.lexicalDiversity(df)
        .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
      graft.Memo.release(spark)
      rows.forall { case (_, n, types, hapax, ttr, hf, btr) =>
        hapax <= types && types <= n &&
          ttr > 0 && ttr <= 1 && hf >= 0 && hf <= 1 && btr > 0 && btr <= 1
      }
    }

  // small word pool so random corpora actually share shingles
  private val pooledText: Gen[String] = Gen.chooseNum(1, 12).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("spark", "fast", "join", "scan", "row",
      "alpha", "beta", "merge"))).map(_.mkString(" "))

  /** JVM mirror of TextFns.tokens + shingles: lowercase, split on single
    * space (empties kept), distinct k-grams, whole-text fallback. */
  private def jvmShingles(text: String, k: Int = 3): Set[String] = {
    val toks = text.toLowerCase.split(" ", -1).toList
    if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  property("weightedJaccardPairs equals a JVM brute force on arbitrary corpora") =
    forAll(Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, pooledText))) { texts =>
      SessionCaches.release(spark)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.dedup.Dedup.weightedJaccardPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      SessionCaches.release(spark)
      val sh = texts.indices.map(i => i.toLong -> jvmShingles(texts(i))).toMap
      val df = sh.values.toSeq.flatMap(_.toSeq).groupBy(identity)
        .map { case (s, xs) => s -> xs.length.toLong }
      def tw(s: Set[String]): Long = s.toSeq.map(x => 1000000L / df(x)).filter(_ > 0).sum
      val exp = (for {
        a <- sh.keys; b <- sh.keys if a < b
        commonW = tw(sh(a) intersect sh(b))
        union = tw(sh(a)) + tw(sh(b)) - commonW
        if union > 0 && commonW * 1000000L >= 500000L * union
      } yield (a, b, commonW.toDouble / union.toDouble)).toSet
      got == exp
    }

  property("clusterSplit keeps exact-duplicate documents in one split") =
    forAll(Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, pooledText))) { texts =>
      SessionCaches.release(spark)
      val all = texts ++ texts.headOption.toList // plant one exact dup
      val docs = all.zipWithIndex.map { case (t, i) => (i.toLong, t, "s") }
        .toDF("doc_id", "text", "source")
      val out = graft.operators.DataPipeline.clusterSplit(docs)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      SessionCaches.release(spark)
      out.size == all.size &&
        all.zipWithIndex.groupBy(_._1).values.forall { g =>
          g.map(x => out(x._2.toLong)).toSet.size == 1
        }
    }

  property("overlapScore bounds hold and a planted eval copy scores 1.0") =
    forAll(Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, pooledText))) { texts =>
      SessionCaches.release(spark)
      val n = texts.length
      // ids 0..n-1 plus an exact copy of eval doc 0 at a train-side id
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
        ((3L * n + 1, texts.head))
      val docs = all.toDF("doc_id", "text")
      val rows = graft.operators.DataPipeline
        .overlapScore(docs, col("doc_id") % 3 === 0)
        .select("doc_id", "n_shingles", "n_shared", "overlap_frac")
        .as[(Long, Long, Long, Double)].collect()
      SessionCaches.release(spark)
      rows.forall { case (_, ns, sh, f) =>
        sh >= 0 && sh <= ns && f >= 0.0 && f <= 1.0 } &&
        rows.filter(_._1 == 3L * n + 1).forall(_._4 == 1.0) &&
        rows.forall(_._1 % 3 != 0)
    }

  property("mergeClusters over any two-batch edge split equals the full closure") = {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 30L); b <- Gen.chooseNum(0L, 30L) if a != b
      } yield (a, b)))
    forAll(edgeGen, edgeGen) { (first, second) =>
      val fullPairs = (first ++ second).toDF("d1", "d2")
      val standing = graft.dedup.Clusters.connectedComponents(first.toDF("d1", "d2"))
      val merged = graft.dedup.Clusters
        .mergeClusters(standing, second.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = graft.dedup.Clusters.connectedComponents(fullPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      merged == full
    }
  }

  property("membership-pruned join equals the naive join on arbitrary key layouts") = {
    // arbitrary fact key multisets (gaps, duplicates, negatives) against
    // arbitrary dim key sets: the IN-filtered read of the bloom-registered
    // dir joined on the key must equal the in-memory join — false
    // positives only over-keep, envelope restriction and bloom rejection
    // must never lose a matching row — the scan must open exactly the
    // bloom survivors, and they must be a subset of the envelope path's
    val factKeys: Gen[List[Long]] = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-50L, 120L)))
    val dimKeys: Gen[List[Long]] = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-60L, 140L)))
    Prop.forAllNoShrink(factKeys, dimKeys, Gen.chooseNum(1, 6)) {
      (fk, dk, nFiles) =>
        val dir = tmp("graft_prop_member_")
        val fact = fk.zipWithIndex.map { case (k, i) => (k, i.toLong) }
          .toDF("k", "payload")
        graft.sources.ZoneMaps.clusteredWrite(fact, "k", dir, nFiles)
        val member = graft.sources.ZoneMaps.membershipPruneFiles(
          graft.sources.ZoneMaps.membershipRows(spark, dir, "k"), "k",
          dk.distinct.sorted.toArray).toSet
        SparkTestSession.registered(dir, Seq("k"), Seq("k"))
        val dim = dk.map(Tuple1(_)).toDF("dk").distinct()
        val pruned = spark.read.parquet(dir).where(col("k").isin(dk.distinct: _*))
        val got = pruned.join(dim, col("k") === col("dk"))
          .groupBy().agg(count(lit(1)), coalesce(sum(col("payload")), lit(0L)))
          .head()
        val hits = fk.zipWithIndex.filter { case (k, _) => dk.contains(k) }
        val envelope = graft.sources.ZoneMaps
          .joinPruneFiles(spark, dir, "k", dim, "dk").toSet
        got.getLong(0) == hits.size.toLong &&
          got.getLong(1) == hits.map(_._2.toLong).sum &&
          SparkTestSession.scannedFiles(pruned) == member.size &&
          member.subsetOf(envelope)
    }
  }

  property("transparent pruning preserves filter semantics on arbitrary layouts and predicates") = {
    // arbitrary key multisets × arbitrary pushed-filter shapes (range,
    // one-sided bounds, equality, IN) over a ZoneMapFileIndex-registered
    // dir: a plain spark.read.parquet(dir).where(pred) — zero ZoneMaps
    // API calls — must equal the row-level ground truth computed in
    // memory. Misunderstood shapes may prune nothing; understood ones may
    // only skip files no qualifying row lives in — either way the result
    // is exact, which is the transparent layer's whole contract.
    // ~1 in 6 keys is NULL, so layouts carry all-NULL-envelope files and
    // the nullness kinds (7/8/9) exercise the `<c>_nulls`-count pruning;
    // range/equality/IN kinds double as the null-REJECTING contract (a
    // NULL key never qualifies, and all-NULL files may be skipped)
    val factKeys: Gen[List[Option[Long]]] = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        5 -> Gen.chooseNum(-50L, 120L).map(Some(_)),
        1 -> Gen.const(Option.empty[Long]))))
    val predGen: Gen[(Int, Long, Long, List[Long])] = for {
      kind <- Gen.chooseNum(0, 9)
      a <- Gen.chooseNum(-60L, 140L); b <- Gen.chooseNum(-60L, 140L)
      ins <- Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-60L, 140L)))
    } yield (kind, math.min(a, b), math.max(a, b), ins)
    Prop.forAllNoShrink(factKeys, predGen, Gen.chooseNum(1, 6)) {
      (fk, p, nFiles) =>
        val dir = tmp("graft_prop_transp_")
        val fact = fk.zipWithIndex.map { case (k, i) => (k, i.toLong) }
          .toDF("k", "payload")
        graft.sources.ZoneMaps.clusteredWrite(fact, "k", dir, nFiles)
        graft.sources.ZoneMaps.refreshManifest(spark, dir, Seq("k"))
        graft.sources.ZoneMaps.membershipRows(spark, dir, "k") // seed blooms
        graft.sources.ZoneMapFileIndex.enable(spark, dir, Seq("k"), Seq("k"))
        GraftSession.ensureOptimizations(spark)
        val (kind, lo, hi, ins) = p
        val pred = kind match {
          case 0 => col("k") >= lo && col("k") < hi
          case 1 => col("k") >= lo
          case 2 => col("k") < hi
          case 3 => col("k") === lo
          case 4 => col("k").isin(ins: _*)
          case 5 => col("k") < lo || col("k") >= hi // two-tail disjunction
          case 6 => col("k") === lo || (col("k") > lo && col("k") <= hi)
          case 7 => col("k").isNotNull
          case 8 => col("k").isNull
          case _ => col("k") <=> lo
        }
        val keep: Option[Long] => Boolean = kind match {
          case 0 => _.exists(k => k >= lo && k < hi)
          case 1 => _.exists(_ >= lo)
          case 2 => _.exists(_ < hi)
          case 3 => _.contains(lo)
          case 4 => val s = ins.toSet; _.exists(s)
          case 5 => _.exists(k => k < lo || k >= hi)
          case 6 => _.exists(k => k == lo || (k > lo && k <= hi))
          case 7 => _.isDefined
          case 8 => _.isEmpty
          case _ => _.contains(lo)
        }
        val df = spark.read.parquet(dir).where(pred)
        val got = df.agg(count(lit(1)),
          coalesce(sum(col("payload")), lit(0L))).head()
        val expRows = fk.zipWithIndex.filter { case (k, _) => keep(k) }
        // a contradictory predicate (kind 0 with lo == hi) folds to an
        // empty LocalRelation: no scan is left to swap, which is fine
        val swapped = df.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.isInstanceOf[graft.sources.ZoneMapFileIndex]
              case _ => false
            }
        }.getOrElse(true)
        got.getLong(0) == expRows.size.toLong &&
          got.getLong(1) == expRows.map(_._2.toLong).sum &&
          swapped
    }
  }

  property("footer-built manifests equal the scan's rows on arbitrary layouts") = {
    // arbitrary long / int / short / byte / boolean / date / timestamp_ntz
    // / timestamp (written as INT64 micros) / decimal (INT64 and
    // fixed-length) / string columns, ~1 in 5 NULL, range-split into 1-5
    // files under a directory whose name holds a space — plus, now and
    // then, an all-NULL file, or no rows at all (one empty file). The
    // manifest must come off the footers (no job) and equal the scan's
    // rows field for field: same schema, same classes, same values
    def opt[T](g: Gen[T]): Gen[Option[T]] =
      Gen.frequency(4 -> g.map(Some(_)), 1 -> Gen.const(None))
    val rowGen = for {
      l <- opt(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
      i <- opt(Gen.chooseNum(Int.MinValue, Int.MaxValue))
      d <- opt(Gen.chooseNum(-150000, 60000))
      t <- opt(Gen.chooseNum(-4000000000000000L, 4000000000000000L))
      m <- opt(Gen.chooseNum(-99999999999L, 99999999999L))
      s <- opt(nastyString)
    } yield (l, i, d, t, m, s)
    val layout = Gen.frequency(
      1 -> Gen.listOfN(0, rowGen),
      6 -> Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, rowGen)))
    Prop.forAllNoShrink(layout, Gen.chooseNum(1, 5), Gen.oneOf(true, false)) {
      (rows, nFiles, nullFile) =>
        val dir = java.nio.file.Files.createTempDirectory("graft prop footer ")
          .resolve("t").toString
        val df = rows.toDF("l", "i", "d0", "t0", "m0", "s").select(col("l"),
          col("i"), date_from_unix_date(col("d0")).as("d"),
          timestamp_micros(col("t0")).cast("timestamp_ntz").as("t"),
          timestamp_micros(col("t0")).as("u"),
          (col("i") % 32768).cast("short").as("h"),
          (col("i") % 128).cast("byte").as("b"), (col("i") % 2 === 0).as("z"),
          (col("m0").cast("decimal(20,0)") / 100).cast("decimal(12,2)").as("m"),
          (col("m0").cast("decimal(20,0)") / 10000).cast("decimal(30,4)").as("w"),
          col("s"))
        // INT96, Spark's default for TIMESTAMP, keeps no footer statistics
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try {
          df.repartitionByRange(nFiles, col("l")).write.parquet(dir)
          if (nullFile && rows.nonEmpty)
            spark.createDataFrame(java.util.Arrays.asList(
                org.apache.spark.sql.Row.fromSeq(Seq.fill(df.schema.length)(null))),
              df.schema).coalesce(1).write.mode("append").parquet(dir)
        } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
        val cols = Seq("l", "i", "h", "b", "z", "d", "t", "u", "m", "w", "s")
        var got = Array.empty[org.apache.spark.sql.Row]
        val jobs = SparkTestSession.jobsOf(s"prop-footer-$dir") {
          got = graft.sources.ZoneMaps.manifestRows(spark, dir, cols)
        }
        val scanned = graft.sources.ZoneMaps.build(spark, dir, cols).collect()
        graft.sources.ZoneMaps.forget(spark, dir)
        jobs == 0 && SparkTestSession.sameManifest(got, scanned)
    }
  }

  property("the commit ledger names exactly the committed ids through compaction crashes") = {
    // a step is 0 (commit the next id: its marker lands), k in 1..12 (a
    // compaction that crashes after its k-th filesystem step; early steps
    // weighted, where a swap's windows sit) or -1 (a clean compaction).
    // After every step the committed set reads back exactly: no id lost,
    // none phantom
    val step: Gen[Int] = Gen.frequency(4 -> Gen.const(0),
      3 -> Gen.chooseNum(1, 3), 2 -> Gen.chooseNum(4, 12), 1 -> Gen.const(-1))
    Prop.forAllNoShrink(Gen.chooseNum(20, 60).flatMap(Gen.listOfN(_, step))) {
      steps =>
        import graft.streaming.EventStreams
        val dir = tmp("graft_prop_ledger_")
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          new org.apache.hadoop.conf.Configuration())
        fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
        var committed = Set.empty[Long]
        steps.forall { k =>
          if (k == 0) {
            val id = committed.size + 1L
            fs.createNewFile(
              new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b$id%06d"))
            committed += id
          } else if (k < 0) EventStreams.compactCommitMarkers(fs, dir)
          else CrashingFs.crashed(k)(EventStreams.compactCommitMarkers(_, dir))
          EventStreams.committedBatchIds(fs, dir) == committed
        }
    }
  }

  property("DurableSwap.replace crashed at any step leaves the old or the new content") = {
    // a directory target of 1-3 files; each case crashes one replace after
    // every filesystem step in turn. resolve must then serve the complete
    // old content (none when there was no target) or the complete new one,
    // and the next clean replace must leave the target and no sibling
    import org.apache.hadoop.fs.{FileSystem, Path}
    import graft.sources.DurableSwap
    val content: Gen[Map[String, String]] = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumStr)).map(_.zipWithIndex.map {
        case (v, i) => s"part-$i" -> v }.toMap)
    Prop.forAllNoShrink(Gen.option(content), content, content) {
      (old, next, last) =>
        val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
        def write(wfs: FileSystem, c: Map[String, String])(dst: Path): Unit =
          c.foreach { case (n, v) =>
            val out = wfs.create(new Path(dst, n), true)
            try out.write(v.getBytes("UTF-8")) finally out.close()
          }
        def read(p: Path): Option[Map[String, String]] =
          if (!fs.exists(p)) None
          else Some(fs.listStatus(p).map { st =>
            val in = fs.open(st.getPath)
            try st.getPath.getName ->
              new String(in.readAllBytes(), "UTF-8")
            finally in.close()
          }.toMap)
        (1 to 12).forall { k =>
          val base = new Path(tmp("graft_prop_swap_"))
          val target = new Path(base, "m")
          fs.mkdirs(base)
          old.foreach(c => write(fs, c)(target))
          val crashed = CrashingFs.crashed(k)(cfs =>
            DurableSwap.replace(cfs, target)(write(cfs, next)))
          val seen = read(DurableSwap.resolve(fs, target))
          DurableSwap.replace(fs, target)(write(fs, last))
          (seen == Some(next) || (crashed && seen == old)) &&
            read(target) == Some(last) &&
            fs.listStatus(base).map(_.getPath.getName).toSet == Set("m")
        }
    }
  }

  property("JS divergence is bounded by ln 2, zero iff distributions match") = {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = for {
      n1 <- Gen.chooseNum(1, 3); n2 <- Gen.chooseNum(1, 3)
      d1 <- Gen.listOfN(n1, doc); d2 <- Gen.listOfN(n2, doc)
    } yield (d1, d2)
    forAll(corpus) { case (d1, d2) =>
      graft.Memo.release(spark)
      val docs = (d1.map(("A", _)) ++ d2.map(("B", _))).zipWithIndex
        .map { case ((s, t), i) => (i.toLong, s, t) }.toDF("doc_id", "source", "text")
      val rows = graft.operators.TextQueries.jsDivergence(docs).collect()
      graft.Memo.release(spark)
      rows.forall { r =>
        val j = r.getDouble(3)
        j >= -1e-9 && j <= math.log(2.0) + 1e-9
      } && {
        // identical multisets on both sides → JSD exactly 0 (after rounding)
        val same = d1.sorted == d2.sorted
        !same || rows.forall(_.getDouble(3) == 0.0)
      }
    }
  }

  property("kNN graph: every vector has exactly min(k, n-1) ranked neighbors") = {
    val k = Gen.chooseNum(1, 4)
    val n = Gen.chooseNum(2, 12)
    forAll(k, n) { (k, n) =>
      val emb = (0L until n.toLong).map(i =>
        (i, Seq.tabulate(4)(d => ((i + d) % 5).toFloat))).toDF("vec_id", "embedding")
      val got = graft.similarity.Knn.knnGraph(emb, k).collect()
        .groupBy(_.getLong(0))
      got.size == n && got.values.forall { rs =>
        rs.map(_.getInt(1)).sorted.sameElements(1 to math.min(k, n - 1))
      }
    }
  }

  property("NFC normalization is idempotent and unifies decomposed text") = {
    val accented: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.const("\u00e9"),     // e-acute composed
      1 -> Gen.const("e\u0301"),    // e-acute decomposed
      1 -> Gen.const("\u00f1"),     // n-tilde composed
      1 -> Gen.const("n\u0303"),    // n-tilde decomposed
      1 -> Gen.const(" "))).map(_.mkString)
    forAll(accented) { s =>
      val once = graft.plans.NfcNormalize.nfc(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      val twice = graft.plans.NfcNormalize.nfc(
        org.apache.spark.unsafe.types.UTF8String.fromString(once)).toString
      val viaJvm = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      once == twice && once == viaJvm
    }
  }

  property("budgetSelect kept set is monotone in the budget") = {
    val docs = SparkTestSession.tables.documents
    forAll(Gen.chooseNum(0L, 20000L), Gen.chooseNum(0L, 20000L)) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      def kept(budget: Long): Set[Long] =
        graft.operators.DataPipeline.budgetSelect(docs, budget)
          .where(col("kept")).select("doc_id").as[Long].collect().toSet
      kept(lo).subsetOf(kept(hi))
    }
  }

  // pure-JVM: the d19 candidate filter's soundness law. The bigram-histogram
  // L1 must lower-bound 6× the Levenshtein distance for ARBITRARY strings
  // (incl. multi-char/non-ASCII edits) or the filter would drop qualifying
  // pairs. JVM Levenshtein here is the plain O(nm) DP over code points —
  // independent of both Spark's kernel and the filter under test.
  property("bigram-histogram L1 lower-bounds 6x the edit distance") = {
    import graft.plans.EditFilterKernels
    import org.apache.spark.unsafe.types.UTF8String
    def lev(a: String, b: String): Int = {
      val x = a.codePoints().toArray; val y = b.codePoints().toArray
      val dp = Array.tabulate(x.length + 1)(i => i)
      for (j <- 1 to y.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to x.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(x.length)
    }
    forAll(nastyString, nastyString) { (a, b) =>
      val l1 = EditFilterKernels.histL1(
        EditFilterKernels.bigramHist(UTF8String.fromString(a)),
        EditFilterKernels.bigramHist(UTF8String.fromString(b)))
      l1 <= graft.plans.EditFilter.L1PerEdit * lev(a, b)
    }
  }

  // pure-JVM: the banded early-abandon kernel must be BIT-EQUAL to Spark's
  // thresholded levenshtein builtin (the d19 verify swaps one for the other)
  // across arbitrary strings and thresholds, including the −1 above-bound
  // convention and band-edge cases (|Δlen| near the threshold).
  property("bounded Levenshtein kernel equals the Spark builtin") = {
    import org.apache.spark.unsafe.types.UTF8String
    forAll(nastyString, nastyString, Gen.chooseNum(1, 48)) { (a, b, t) =>
      val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
      graft.plans.LevKernels.boundedLev(ua, ub, t) == ua.levenshteinDistance(ub, t)
    }
  }

  // s16 on arbitrary vectors (zeros, negatives, ties): assignment equals a
  // JVM argmin over the same quantization, and is partitioning-invariant —
  // the no-coordination routing claim on adversarial inputs, not just the
  // well-behaved driver corpus.
  property("router assignment equals JVM argmin and survives repartitioning") = {
    val vecGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(64, Gen.chooseNum(-3.0, 3.0))))
    forAll(vecGen) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val cents = graft.similarity.Router.centroidsFor(graft.similarity.Router.Cells)
      val q = graft.similarity.Quantize.quantized(df)
        .select(col("vec_id"), col("qvec")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Byte](1).toArray).toMap
      val got = graft.similarity.Router.route(df).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      val again = graft.similarity.Router.route(df.repartition(7)).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      got == again && got.forall { case (id, (cell, d2)) =>
        val ds = cents.map(c => q(id).zip(c)
          .map { case (qi, ci) => val d = qi.toLong - ci; d * d }.sum)
        cell == ds.indexOf(ds.min) && d2 == ds.min
      }
    }
  }

  // t24 on arbitrary text: the hapax/dis/type/token identities against a
  // JVM frequency recount — including empty-ish strings, whose whitespace
  // tokenizer artifacts ("" tokens) must count identically on both paths.
  property("hapax profile equals a JVM frequency recount on arbitrary text") =
    forAll(Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, nastyString))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      graft.operators.TextQueries.hapaxProfile(df).collect().forall { r =>
        val tf = texts(r.getLong(0).toInt).toLowerCase.split(" ", -1)
          .groupBy(identity).map { case (_, xs) => xs.length }
        r.getLong(1) == tf.sum.toLong &&
          r.getLong(2) == tf.size.toLong &&
          r.getLong(3) == tf.count(_ == 1).toLong &&
          r.getLong(4) == tf.count(_ == 2).toLong &&
          r.getDouble(5) == tf.count(_ == 1).toDouble / tf.size
      }
    }

  // random frame for the bounded-frame laws: 1-3 low-card groups, a
  // strictly increasing key per group (tie-free, so ROWS frames are
  // deterministic) whose gaps straddle the integral bucket width, long
  // and double values, and a trailing frame wider than most buckets
  private val boundedFrame: Gen[(List[(String, Long, Long, Double)], Int)] = for {
    nG <- Gen.chooseNum(1, 3)
    sizes <- Gen.listOfN(nG, Gen.chooseNum(0, 60))
    rows <- Gen.sequence[List[List[(Long, Long, Double)]], List[(Long, Long, Double)]](
      sizes.map(n => Gen.listOfN(n, for {
        gap <- Gen.oneOf(Gen.chooseNum(1L, 3L), Gen.chooseNum(1L, 9000L))
        v <- Gen.chooseNum(-9L, 9L)
        d <- Gen.chooseNum(-1e3, 1e3)
      } yield (gap, v, d))))
    frameWidth <- Gen.chooseNum(1, 12)
  } yield {
    val flat = rows.zipWithIndex.flatMap { case (rs, g) =>
      rs.scanLeft((0L, 0L, 0d)) { case ((k, _, _), (gap, v, d)) => (k + gap, v, d) }
        .tail.map { case (k, v, d) => (Seq("A", "B", "C")(g), k, v, d) }
    }
    (flat, frameWidth)
  }

  /** `body` with the crossover off, so RewriteLowCardWindow takes the
    * two-level form over these tiny (provably small) frames. */
  private def twoLevel[T](body: => T): T = {
    val k = graft.plans.RewriteLowCardWindow.minChildBytesKey
    spark.conf.set(k, "0")
    try body finally spark.conf.unset(k)
  }

  /** Sorted rows of `build()` with the rule off and, under [[twoLevel]],
    * with it on — a TRUE multiset comparison (sorted row strings) — and
    * whether the rule-on plan holds the rewrite's bucket-keyed windows. */
  private def ruleOffOn(build: () => org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[String], Boolean) = {
    val key = graft.plans.RewriteLowCardWindow.enabledKey
    spark.conf.set(key, "false")
    val off = try build().collect().map(_.toString).toSeq.sorted
      finally spark.conf.unset(key)
    twoLevel {
      val df = build()
      (off, df.collect().map(_.toString).toSeq.sorted,
        df.queryExecution.optimizedPlan.toString.contains("_gsw_bkt"))
    }
  }

  private def boundedLaw(aggs: org.apache.spark.sql.expressions.WindowSpec =>
                           Seq[org.apache.spark.sql.Column]) =
    // no shrinking: each shrink step would run two Spark jobs
    Prop.forAllNoShrink(boundedFrame) { case (rows, fw) =>
      import org.apache.spark.sql.expressions.Window
      val df = rows.toDF("l_returnflag", "k", "v", "d").repartition(5)
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("k"))
        .rowsBetween(-(fw - 1), 0)
      val (off, on, fired) = ruleOffOn(() =>
        df.select(Seq(col("l_returnflag"), col("k")) ++ aggs(w): _*))
      off == on && (fired || rows.isEmpty)
    }

  property("RewriteLowCardWindow ≡ naive bounded ROWS frame: long and double sums") =
    boundedLaw(w => Seq(sum(col("v")).over(w).as("s"), sum(col("d")).over(w).as("sd")))

  // nulls allowed in the partition key, order key AND value; k drawn from
  // a tiny range so RANGE-frame peer groups are everywhere
  private val ruleFrame: Gen[List[(Option[String], Option[Long], Option[Long])]] =
    for {
      n <- Gen.chooseNum(1, 120)
      rows <- Gen.listOfN(n, for {
        f <- Gen.frequency(8 -> Gen.oneOf("A", "B", "C").map(Some(_)),
          1 -> Gen.const(None))
        k <- Gen.frequency(8 -> Gen.chooseNum(-9L, 9L).map(Some(_)),
          1 -> Gen.const(None))
        v <- Gen.frequency(8 -> Gen.chooseNum(-99L, 99L).map(Some(_)),
          1 -> Gen.const(None))
      } yield (f, k, v))
    } yield rows

  property("RewriteLowCardWindow ≡ naive low-card window on random frames") =
    forAll(ruleFrame) { rows =>
      import org.apache.spark.sql.expressions.Window
      val df = rows.toDF("l_returnflag", "k", "v").repartition(5)
      def build() = {
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("k"))
        df.select(col("l_returnflag"), col("k"), col("v"),
          sum(col("v")).over(w).as("s"), min(col("v")).over(w).as("mn"),
          max(col("v")).over(w).as("mx"), count(col("v")).over(w).as("c"),
          count(lit(1)).over(w).as("ca"))
      }
      // random frames are tiny — lift the crossover bypass so the rule
      // actually fires (production inputs are not provably small)
      val (off, on, fired) = ruleOffOn(() => build())
      off == on && fired
    }

  property("RewriteLowCardWindow ≡ naive bounded ROWS frame: count and sorted collect_list") =
    boundedLaw(w => Seq(count(lit(1)).over(w).as("n"),
      sort_array(collect_list(col("v")).over(w)).as("lst")))

  // the integral bucket on random longs, the extremes included: monotone
  // non-decreasing, null-preserving, and at most 4,096 buckets in any
  // power-of-two range (probed with a dense run of consecutive keys)
  property("integral bucket: monotone, null-preserving, <= 4096 buckets per power-of-two range") = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val e = graft.plans.RewriteLowCardWindow.integralBucket(
      BoundReference(0, LongType, nullable = true))
    def bucket(k: java.lang.Long): Any = e.eval(InternalRow(k))
    val keys = Gen.listOf(Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.chooseNum(-70000L, 70000L), Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L)))
    forAll(keys, Gen.chooseNum(0, 62), Gen.oneOf(1L, -1L)) { (ks, p, sign) =>
      val sorted = (ks ++ Seq(Long.MinValue, Long.MaxValue)).sorted
      val bs = sorted.map(k => bucket(k).asInstanceOf[Long])
      // consecutive keys from the start of [2^p, 2^(p+1)) (or its mirror):
      // 10,000 of them, or the whole range when it is smaller
      val lo = 1L << p
      val dense = (0L until math.min(lo, 10000L)).map(i => sign * (lo + i))
      bucket(null) == null &&
        bs.zip(bs.drop(1)).forall { case (a, b) => a <= b } &&
        dense.map(k => bucket(k)).distinct.size <= 4096
    }
  }

  // shared clustered copy for the zone-map law (written once per JVM)
  private lazy val zmDir: String = {
    val d = java.nio.file.Files.createTempDirectory("prop_zm_").toString
    graft.sources.ZoneMaps.clusteredWrite(
      SparkTestSession.tables.lineitem, "l_shipdate", d, 6)
    d
  }

  property("transparent range read ≡ naive range filter for arbitrary ranges") =
    forAll(Gen.chooseNum(0, 3000), Gen.chooseNum(1, 3000)) { (off, len) =>
      // random [lo, hi) windows across (and beyond) the 1995–2001 domain —
      // degenerate, empty and full-cover ranges all land here
      val lo = java.time.LocalDateTime.parse("1994-06-01T00:00:00").plusDays(off)
      val hi = lo.plusDays(len)
      def lit_(d: java.time.LocalDateTime) =
        lit(d.toString.replace("T", " ")).cast("timestamp_ntz")
      val range = col("l_shipdate") >= lit_(lo) && col("l_shipdate") < lit_(hi)
      // registered per case: another property's session release drops it
      val pruned = spark.read
        .parquet(SparkTestSession.registered(zmDir, Seq("l_shipdate"))).where(range)
      val want = SparkTestSession.tables.lineitem.where(range)
      val man = graft.sources.ZoneMaps.manifestRows(spark, zmDir, Seq("l_shipdate"))
      pruned.count() == want.count() &&
        pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty &&
        SparkTestSession.scannedFiles(pruned) ==
          graft.sources.ZoneMaps.pruneFiles(man, "l_shipdate", lo, hi).length
    }

  // the chunk rule now backs p57/p58/p59/p61 and their DuckDB oracles —
  // pin it against an independent JVM reference over arbitrary BMP text
  // (both engines' substring counts CODE POINTS; the gen stays inside the
  // BMP so a UTF-16-unit reference is code-point exact)
  private val chunkText: Gen[String] =
    Gen.chooseNum(0, 900).flatMap(n => Gen.stringOfN(n, nastyChar))
  private val chunkGeom: Gen[(Int, Int)] = for {
    w <- Gen.chooseNum(1, 300)
    st <- Gen.chooseNum(1, w)
  } yield (w, st)

  property("chunk rule ≡ JVM reference: starts, lengths, hashes, count") =
    forAll(Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, chunkText)),
           chunkGeom) { case (texts, (w, st)) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.DataPipeline.chunkWindows(docs, w, st)
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_len", "chunk_hash")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        val nc = math.max(t.length, 1L)
        (0L to (nc - 1) / st).map { idx =>
          val from = (idx * st).toInt
          val chunk = if (from >= t.length) ""
            else t.substring(from, math.min(from + w, t.length))
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(chunk.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          (i.toLong, idx, idx * st + 1, chunk.length.toLong, md5)
        }
      }.toSet
      got == want
    }

  // m10's admission decision vs a JVM brute force over random 64-bit
  // sketches — partition law (exactly one verdict class per item) plus
  // flag-by-flag agreement; banding recall is exact for hamming <= 3
  private val hashGen: Gen[Long] = Gen.oneOf(
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    // near-collisions: a base hash with 0-4 bits flipped
    for {
      base <- Gen.chooseNum(0L, 1L << 20)
      k <- Gen.chooseNum(0, 4)
      bits <- Gen.listOfN(k, Gen.chooseNum(0, 63))
    } yield bits.foldLeft(base)((h, b) => h ^ (1L << b)))

  property("admitByPhash ≡ JVM brute force (flags and partition law)") =
    forAll(Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, hashGen)),
           Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, hashGen))) {
      (standing, batch) =>
        val sDf = standing.zipWithIndex
          .map { case (h, i) => (100L + i, h) }.toDF("doc_id", "phash")
        val bIds = batch.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        val bDf = bIds.toDF("doc_id", "phash")
        val got = graft.multimodal.Multimodal.admitByPhash(sDf, bDf, 3)
          .collect().map(r => r.getLong(0) ->
            ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))).toMap
        def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
        bIds.forall { case (id, h) =>
          val ds = standing.exists(sh => ham(sh, h) <= 3)
          val db = bIds.exists { case (id2, h2) => id2 < id && ham(h2, h) <= 3 }
          got(id) == ((ds, db, !ds && !db))
        } && got.size == bIds.size
    }

  // join-driven file pruning never changes a join result, for arbitrary
  // dim key slices over the key-clustered fact (incl. empty slices)
  private lazy val jpDir: String = {
    val d = java.nio.file.Files.createTempDirectory("prop_zm_join_").toString
    graft.sources.ZoneMaps.clusteredWrite(
      SparkTestSession.tables.lineitem, "l_orderkey", d, 6)
    d
  }

  property("join-bound pruned read ≡ naive join for arbitrary dim key slices") =
    forAll(Gen.chooseNum(0L, 70000L), Gen.chooseNum(0L, 40000L)) { (lo, len) =>
      val dim = SparkTestSession.tables.orders
        .where(col("o_orderkey") >= lo && col("o_orderkey") < lo + len)
        .select(col("o_orderkey"))
      // the fact filtered to the dim's key range (NULL bounds for an empty
      // slice make the filter false and remove the scan)
      val k = dim.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val fact = spark.read
        .parquet(SparkTestSession.registered(jpDir, Seq("l_orderkey")))
        .where(col("l_orderkey").between(k.get(0), k.get(1)))
      val got = fact.join(dim, col("l_orderkey") === col("o_orderkey")).count()
      val want = SparkTestSession.tables.lineitem
        .join(dim, col("l_orderkey") === col("o_orderkey")).count()
      got == want && SparkTestSession.scannedFiles(fact) == graft.sources.ZoneMaps
        .joinPruneFiles(spark, jpDir, "l_orderkey", dim, "o_orderkey").length
    }
}
