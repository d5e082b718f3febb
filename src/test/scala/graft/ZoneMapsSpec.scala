package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZoneMaps

/** Zone-map contract: the clustered layout yields disjoint file envelopes,
  * the manifest is exact per file, pruning never changes results (for any
  * range, including empty and full), and it really skips files — asserted
  * on the `numFiles` metric of the scan a filtered read of the registered
  * directory executes, not just the manifest count. */
class ZoneMapsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val dir: String = {
    val out = Files.createTempDirectory("graft_zm_spec_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_shipdate", out, 6)
    out
  }
  private def manifest = ZoneMaps.manifestRows(spark, dir, Seq("l_shipdate"))

  private def ts(s: String) =
    java.time.LocalDateTime.parse(s.stripSuffix("Z"))
  private def tsCol(s: String) =
    lit(s.replace("T", " ").stripSuffix("Z")).cast("timestamp_ntz")

  test("manifest: one row per file, counts sum to the table, envelope exact") {
    val total = tables.lineitem.count()
    assert(manifest.length == 6)
    assert(manifest.map(_.getAs[Long]("n_rows")).sum == total)
    assert(manifest.map(_.getAs[String]("file")).distinct.length == 6)
    // spot-check two files: per-file min/max match a direct read
    manifest.take(2).foreach { r =>
      val one = spark.read.parquet(r.getAs[String]("file"))
        .agg(min(col("l_shipdate")), max(col("l_shipdate")), count(lit(1)))
        .head()
      assert(one.get(0) == r.getAs[Any]("l_shipdate_min"))
      assert(one.get(1) == r.getAs[Any]("l_shipdate_max"))
      assert(one.getLong(2) == r.getAs[Long]("n_rows"))
    }
  }

  test("clusteredWrite: file envelopes are disjoint up to boundary ties") {
    val sorted = manifest
      .map(r => (r.getAs[java.time.LocalDateTime]("l_shipdate_min"),
        r.getAs[java.time.LocalDateTime]("l_shipdate_max")))
      .sortWith((a, b) => a._1.isBefore(b._1))
    sorted.toSeq.sliding(2).foreach {
      case Seq((_, prevMax), (nextMin, _)) =>
        assert(!prevMax.isAfter(nextMin),
          s"overlapping envelopes: $prevMax > $nextMin")
      case _ =>
    }
  }

  test("pruned read ≡ full-scan filter for narrow, empty and full ranges") {
    val ranges = Seq(
      ("1996-01-01T00:00:00Z", "1997-01-01T00:00:00Z"), // interior year
      ("1990-01-01T00:00:00Z", "1991-01-01T00:00:00Z"), // fully before: empty
      ("1990-01-01T00:00:00Z", "2030-01-01T00:00:00Z"), // covers everything
      ("2001-10-01T00:00:00Z", "2030-01-01T00:00:00Z")) // tail sliver
    registered(dir, Seq("l_shipdate"))
    for ((lo, hi) <- ranges) {
      val range = col("l_shipdate") >= tsCol(lo) && col("l_shipdate") < tsCol(hi)
      val pruned = spark.read.parquet(dir).where(range)
      val want = tables.lineitem.where(range)
      assert(pruned.count() == want.count(), s"count drift for [$lo,$hi)")
      assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty,
        s"row drift for [$lo,$hi)")
      assert(scannedFiles(pruned) ==
        ZoneMaps.pruneFiles(manifest, "l_shipdate", ts(lo), ts(hi)).length,
        s"the scan must open exactly the envelope survivors of [$lo,$hi)")
    }
  }

  test("pruning really skips files — narrow range scans a strict subset") {
    def scanned(lo: String, hi: String): Long =
      scannedFiles(spark.read.parquet(registered(dir, Seq("l_shipdate")))
        .where(col("l_shipdate") >= tsCol(lo) && col("l_shipdate") < tsCol(hi)))
    val narrow = scanned("1996-01-01 00:00:00", "1997-01-01 00:00:00")
    assert(narrow > 0 && narrow < 6,
      s"expected a strict file subset for a ~1/7th range, scanned $narrow/6")
    // empty range: zero files scheduled
    val none = ZoneMaps.pruneFiles(manifest, "l_shipdate",
      ts("1990-01-01T00:00:00Z"), ts("1991-01-01T00:00:00Z"))
    assert(none.isEmpty)
    assert(scanned("1990-01-01 00:00:00", "1991-01-01 00:00:00") == 0)
  }

  test("join pruning: key-clustered fact prunes by the dim's key range (long column)") {
    // also exercises the non-timestamp manifest path: a LONG zone column
    val d3 = Files.createTempDirectory("graft_zm_join_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_orderkey", d3, 6)
    registered(d3, Seq("l_orderkey"))
    // dim: a narrow orderkey slice (the time-correlated-ingest shape)
    val keys = tables.orders.select(col("o_orderkey"))
    val loHi = keys.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val cut = loHi.getLong(0) + (loHi.getLong(1) - loHi.getLong(0)) / 10
    val dim = tables.orders.where(col("o_orderkey") <= cut)
      .select(col("o_orderkey"), col("o_orderdate"))
    // the fact filtered to the dim's key range — one 1-row aggregate
    def fact(dim: org.apache.spark.sql.DataFrame) = {
      val k = dim.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      spark.read.parquet(d3).where(col("l_orderkey").between(k.get(0), k.get(1)))
    }
    val scanned = scannedFiles(fact(dim))
    assert(scanned > 0 && scanned < 6,
      s"narrow dim range should prune files, scanned $scanned/6")
    assert(scanned ==
      ZoneMaps.joinPruneFiles(spark, d3, "l_orderkey", dim, "o_orderkey").length)
    // the pruned join equals the naive join — the join equality is the residual
    val got = fact(dim).join(dim, col("l_orderkey") === col("o_orderkey")).count()
    val want = tables.lineitem
      .join(dim, col("l_orderkey") === col("o_orderkey")).count()
    assert(got == want && want > 0)
    // empty dim: everything pruned, zero rows, no error
    val empty = dim.where(lit(false))
    assert(ZoneMaps.joinPruneFiles(spark, d3, "l_orderkey", empty, "o_orderkey").isEmpty)
    assert(scannedFiles(fact(empty)) == 0 && fact(empty).count() == 0)
  }

  test("clusteredWriteZ: one layout prunes on EITHER column; single-column layout cannot") {
    val dz = Files.createTempDirectory("graft_zm_z_").toString
    ZoneMaps.clusteredWriteZN(tables.lineitem, Seq("l_orderkey", "l_shipdate"), dz, 16)
    val man = ZoneMaps.build(spark, dz, Seq("l_orderkey", "l_shipdate")).collect()
    assert(man.length == 16)
    val okLoHi = tables.lineitem
      .agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val okCut = okLoHi.getLong(0) + (okLoHi.getLong(1) - okLoHi.getLong(0)) / 8
    // predicate on the FIRST z column prunes
    val byKey = ZoneMaps.pruneFiles(man, "l_orderkey",
      okLoHi.getLong(0), okCut, hiInclusive = true)
    assert(byKey.nonEmpty && byKey.length < 16,
      s"orderkey slice should prune z-files, kept ${byKey.length}/16")
    // predicate on the SECOND z column prunes too — same layout
    val byDate = ZoneMaps.pruneFiles(man, "l_shipdate",
      ts("1995-01-01T00:00:00Z"), ts("1996-01-01T00:00:00Z"))
    assert(byDate.nonEmpty && byDate.length < 16,
      s"shipdate slice should prune z-files, kept ${byDate.length}/16")
    // pruned reads stay exact on both axes
    val gotK = spark.read.parquet(byKey.toIndexedSeq: _*)
      .where(col("l_orderkey") <= okCut).count()
    val wantK = tables.lineitem.where(col("l_orderkey") <= okCut).count()
    assert(gotK == wantK && wantK > 0)
    // CONTRAST: the single-column layout by orderkey leaves shipdate
    // envelopes spanning the whole domain — the same date slice keeps
    // every file (this is WHY z-order exists)
    val d1 = Files.createTempDirectory("graft_zm_single_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_orderkey", d1, 16)
    val man1 = ZoneMaps.build(spark, d1, Seq("l_shipdate")).collect()
    val byDate1 = ZoneMaps.pruneFiles(man1, "l_shipdate",
      ts("1995-01-01T00:00:00Z"), ts("1996-01-01T00:00:00Z"))
    assert(byDate1.length > byDate.length,
      s"z layout (${byDate.length} files) must beat key-only layout " +
        s"(${byDate1.length} files) on the other column")
  }

  test("string zone column: lexicographic envelopes prune and stay exact") {
    val ds = Files.createTempDirectory("graft_zm_str_").toString
    ZoneMaps.clusteredWrite(tables.documents.select(col("doc_id"),
      col("source"), col("n_chars")), "source", ds, 4)
    val man = ZoneMaps.manifestRows(spark, ds, Seq("source"))
    // a single-source slice: [s, s + "\u0000") (the least string above s) contains exactly that source
    val srcs = tables.documents.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val s0 = srcs(srcs.length / 2)
    val files = ZoneMaps.pruneFiles(man, "source", s0, s0 + "\u0000")
    assert(files.nonEmpty && files.length < 4,
      s"one of ${srcs.length} sources should prune 4 range files, kept ${files.length}")
    val got = spark.read.parquet(files.toIndexedSeq: _*)
      .where(col("source") === s0).count()
    val want = tables.documents.where(col("source") === s0).count()
    assert(got == want && want > 0)
  }

  test("incrementalBuild: batch-only scan equals a full rebuild after append") {
    val d2 = Files.createTempDirectory("graft_zm_incr_").toString
    ZoneMaps.clusteredWrite(
      tables.lineitem.where(col("l_orderkey") % 3 =!= 0), "l_shipdate", d2, 4)
    val standing = ZoneMaps.build(spark, d2, Seq("l_shipdate")).collect()
    // ingest batch: two more files land in the directory
    tables.lineitem.where(col("l_orderkey") % 3 === 0)
      .repartitionByRange(2, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("append").parquet(d2)
    val maintained = ZoneMaps
      .incrementalBuild(spark, d2, Seq("l_shipdate"), standing)
    val rebuilt = ZoneMaps.build(spark, d2, Seq("l_shipdate")).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
        String.valueOf(r.getAs[Any]("l_shipdate_min")),
        String.valueOf(r.getAs[Any]("l_shipdate_max")))).toSet
    assert(maintained.length == 6 && rebuilt.length == 6)
    assert(key(maintained) == key(rebuilt),
      "maintained manifest must equal the from-scratch rebuild")
    // standing rows survive verbatim (object identity of the kept subset)
    assert(standing.forall(maintained.contains))
  }

  test("prepareTable: one call yields clustering + manifest + catalog stats") {
    val out = Files.createTempDirectory("graft_zm_prep_").toString + "/t"
    val name = GraftSession.prepareTable(spark, "graft_zm_prep_spec",
      s"$sf/orders.parquet", out, Seq("o_orderdate"),
      Seq("o_custkey"), nFiles = 4)
    // catalog table live with column stats (NDV present after ANALYZE)
    val rel = spark.table(name).queryExecution.optimizedPlan
    val stats = rel.stats.attributeStats
    assert(stats.exists { case (a, s) =>
      a.name == "o_custkey" && s.distinctCount.isDefined })
    // the manifest was built and the table prunes: a narrow range scans a
    // strict subset and equals the naive filter
    val lo = ts("1996-01-01T00:00:00Z"); val hi = ts("1997-01-01T00:00:00Z")
    val range = col("o_orderdate") >= tsCol("1996-01-01 00:00:00") &&
      col("o_orderdate") < tsCol("1997-01-01 00:00:00")
    val pruned = spark.table(name).where(range)
    val scanned = scannedFiles(pruned)
    assert(ridesIndex(pruned) && scanned < 4)
    assert(scanned == ZoneMaps.pruneFiles(
      ZoneMaps.manifestRows(spark, out, Seq("o_orderdate")), "o_orderdate",
      lo, hi).length)
    val want = spark.read.parquet(s"$sf/orders.parquet").where(range).count()
    assert(pruned.count() == want)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("manifest round-trips through parquet and drives pruning after load") {
    val mp = Files.createTempDirectory("graft_zm_mani_").toString + "/m"
    ZoneMaps.writeManifest(spark, dir, Seq("l_shipdate"), mp)
    // a fresh session-memo entry loaded purely from the persisted table
    val loaded = ZoneMaps.loadManifest(spark, dir, Seq("l_shipdate"), mp)
    assert(loaded.length == 6 &&
      loaded.map(_.getAs[Long]("n_rows")).sum == tables.lineitem.count())
    val range = col("l_shipdate") >= tsCol("1996-01-01 00:00:00") &&
      col("l_shipdate") < tsCol("1997-01-01 00:00:00")
    val pruned = spark.read.parquet(registered(dir, Seq("l_shipdate"))).where(range)
    val scanned = scannedFiles(pruned)
    assert(scanned < 6 && scanned == ZoneMaps.pruneFiles(loaded, "l_shipdate",
      ts("1996-01-01T00:00:00Z"), ts("1997-01-01T00:00:00Z")).length)
    val want = tables.lineitem.where(range).count()
    assert(pruned.count() == want && want > 0)
  }

  test("prepareTable re-ingest refreshes the manifest (no stale file paths)") {
    val out = Files.createTempDirectory("graft_zm_reprep_").toString + "/t"
    def run(): Long = {
      GraftSession.prepareTable(spark, "graft_zm_reprep_spec",
        s"$sf/orders.parquet", out, Seq("o_orderdate"), Nil, nFiles = 3)
      // a prune over the CURRENT files — a stale manifest would name the
      // paths the second clusteredWrite deleted, and every listed file
      // would ride the stale-manifest guard
      spark.read.parquet(out)
        .where(col("o_orderdate") >= tsCol("1990-01-01 00:00:00") &&
          col("o_orderdate") < tsCol("2030-01-01 00:00:00")).count()
    }
    val staleBefore = graft.sources.ZoneMapFileIndex.staleServesFor(out)
    val first = run()
    val second = run() // re-ingest: every part file is rewritten
    assert(first == second && second == tables.orders.count())
    assert(graft.sources.ZoneMapFileIndex.staleServesFor(out) == staleBefore,
      "the re-ingested table must be served from a manifest that knows its files")
    spark.sql("DROP TABLE IF EXISTS graft_zm_reprep_spec")
  }

  test("membership pruning: scattered keys skip files the envelope cannot") {
    val d = Files.createTempDirectory("graft_zm_mem_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", d, 8)
    // scattered keys spanning the whole domain (0..199 at this SF): the
    // single [min, max] envelope overlaps EVERY file, so envelope-grade
    // join pruning keeps all 8 — the structural gap membership closes
    val keyVals = Seq(3L, 99L, 197L)
    val dim = spark.createDataFrame(keyVals.map(Tuple1(_))).toDF("k")
    val envelope = ZoneMaps.joinPruneFiles(spark, d, "l_partkey", dim, "k")
    assert(envelope.length == 8,
      s"envelope-only pruning should keep all 8 files, kept ${envelope.length}")
    val member = ZoneMaps.membershipPruneFiles(
      ZoneMaps.membershipRows(spark, d, "l_partkey"), "l_partkey",
      keyVals.toArray)
    assert(member.length <= keyVals.length,
      s"three scattered keys can hit at most 3 disjoint-range files, kept ${member.length}")
    assert(member.nonEmpty)
    // the IN-filtered read of the registered dir opens exactly the bloom
    // survivors, and its join equals the naive join — the join equality is
    // the residual, bloom false positives only over-keep
    registered(d, Seq("l_partkey"), Seq("l_partkey"))
    val fact = spark.read.parquet(d).where(col("l_partkey").isin(keyVals: _*))
    assert(scannedFiles(fact) == member.length)
    val got = fact.join(dim, col("l_partkey") === col("k")).count()
    val want = tables.lineitem
      .join(dim, col("l_partkey") === col("k")).count()
    assert(got == want && want > 0)
  }

  test("membership pruning: blooms reject absent keys inside the envelope") {
    // fact keys: EVEN values only — an odd probe key falls inside some
    // file's [min, max] but exists nowhere; the range test alone keeps the
    // file, the bloom rejects it
    val d = Files.createTempDirectory("graft_zm_gap_").toString
    val fact = spark.range(0, 500).selectExpr("id * 2 as k", "id as payload")
    ZoneMaps.clusteredWrite(fact.toDF(), "k", d, 4)
    val rows = ZoneMaps.membershipRows(spark, d, "k")
    val odd = Array(101L, 301L, 501L, 701L)
    assert(ZoneMaps.membershipPruneFiles(rows, "k", odd).isEmpty,
      "absent keys inside the envelope must be bloom-rejected")
    // present keys still keep exactly their files (no false negatives)
    val present = Array(100L, 700L)
    val kept = ZoneMaps.membershipPruneFiles(rows, "k", present)
    assert(kept.nonEmpty && kept.length <= 2)
    registered(d, Seq("k"), Seq("k"))
    val absent = spark.read.parquet(d).where(col("k").isin(odd.toSeq: _*))
    assert(scannedFiles(absent) == 0 && absent.count() == 0)
  }

  test("distributed membership probe equals the driver-side path") {
    val d = Files.createTempDirectory("graft_zm_dist_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", d, 8)
    val keys = Array(3L, 99L, 101L, 197L) // present + near-miss values
    val driverSide = ZoneMaps.membershipPruneFiles(
      ZoneMaps.membershipRows(spark, d, "l_partkey"), "l_partkey", keys).sorted
    val distributed = ZoneMaps.membershipPruneFilesDistributed(
      ZoneMaps.build(spark, d, Nil, Seq("l_partkey")), "l_partkey", keys).sorted
    assert(distributed.sameElements(driverSide) && driverSide.nonEmpty)
  }

  test("membership pruning: wide dim falls back to envelope pruning (bounded driver)") {
    val d = Files.createTempDirectory("graft_zm_wide_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", d, 8)
    val dim = spark.createDataFrame(Seq(3L, 99L, 197L).map(Tuple1(_))).toDF("k")
    // over maxKeys the guarded collect declines instead of holding the keys
    assert(ZoneMaps.boundedDimKeys(dim, "k", maxKeys = 2).isEmpty)
    assert(ZoneMaps.boundedDimKeys(dim, "k", maxKeys = 3)
      .exists(_.sameElements(Array(3L, 99L, 197L))))
    // the fallback: the dim's key range as a filter on the registered fact
    // opens exactly the envelope survivors, and the join stays exact
    registered(d, Seq("l_partkey"))
    val b = dim.agg(min(col("k")), max(col("k"))).head()
    val fact = spark.read.parquet(d)
      .where(col("l_partkey").between(b.get(0), b.get(1)))
    assert(scannedFiles(fact) ==
      ZoneMaps.joinPruneFiles(spark, d, "l_partkey", dim, "k").length)
    assert(fact.join(dim, col("l_partkey") === col("k")).count() ==
      tables.lineitem.join(dim, col("l_partkey") === col("k")).count())
    // empty dim: nothing to hold, nothing to scan
    assert(ZoneMaps.boundedDimKeys(dim.where(lit(false)), "k").exists(_.isEmpty))
  }

  test("pruneFiles: mixed-width numeric bounds prune; incomparable types error clearly") {
    val d = Files.createTempDirectory("graft_zm_mixed_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_orderkey", d, 4)
    val man = ZoneMaps.manifestRows(spark, d, Seq("l_orderkey"))
    // Int bounds over the LONG zone column — must match the Long-bound
    // answer, not throw ClassCastException
    val viaInt = ZoneMaps.pruneFiles(man, "l_orderkey",
      Int.box(3), Int.box(100)).sorted
    val viaLong = ZoneMaps.pruneFiles(man, "l_orderkey", 3L, 100L).sorted
    assert(viaInt.sameElements(viaLong) && viaLong.nonEmpty)
    // Double bounds straddling exactly: still exact (decimal compare)
    val viaDouble = ZoneMaps.pruneFiles(man, "l_orderkey",
      Double.box(3.0), Double.box(100.0)).sorted
    assert(viaDouble.sameElements(viaLong))
    val e = intercept[IllegalArgumentException] {
      ZoneMaps.pruneFiles(man, "l_orderkey", "three", "hundred")
    }
    assert(e.getMessage.contains("not comparable"))
  }

  test("refreshManifest purges memos for OTHER column sets of the same dir") {
    val d = Files.createTempDirectory("graft_zm_stale_").toString
    ZoneMaps.clusteredWrite(tables.orders, "o_orderkey", d, 3)
    // memoize a manifest under a DIFFERENT column set
    val stale = ZoneMaps.manifestRows(spark, d, Seq("o_custkey"))
    assert(stale.length == 3)
    // rewrite the dir (every part file replaced), refresh on another set
    ZoneMaps.clusteredWrite(tables.orders, "o_orderkey", d, 4)
    ZoneMaps.refreshManifest(spark, d, Seq("o_orderkey"))
    // the o_custkey memo must have been purged too: a stale one would
    // hand spark.read.parquet the deleted 3-file paths → FileNotFound
    val fresh = ZoneMaps.manifestRows(spark, d, Seq("o_custkey"))
    assert(fresh.length == 4)
    val lo = tables.orders.agg(min(col("o_custkey"))).head().getLong(0)
    val hi = tables.orders.agg(max(col("o_custkey"))).head().getLong(0)
    val staleBefore = graft.sources.ZoneMapFileIndex.staleServesFor(d)
    val full = spark.read.parquet(registered(d, Seq("o_custkey")))
      .where(col("o_custkey") >= lo && col("o_custkey") < hi + 1)
    assert(scannedFiles(full) == 4 && full.count() == tables.orders.count())
    assert(graft.sources.ZoneMapFileIndex.staleServesFor(d) == staleBefore,
      "the index must consult the refreshed manifest, not the purged one")
  }

  test("persisted manifest serves a fresh session with ZERO data-dir access") {
    val base = Files.createTempDirectory("graft_zm_durable_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zm_durable_spec",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    // this session: the recipe seeded the memo; pruning works immediately
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    assert(man.length == 4)
    // simulate a fresh session AND prove the load touches only the
    // manifest: forget the record, DELETE the data files, then load + prune —
    // any data-dir access would throw
    ZoneMaps.forget(spark, out)
    val dataFiles = new java.io.File(out).listFiles()
    val moved = Files.createTempDirectory("graft_zm_moved_").toString
    dataFiles.foreach(f => f.renameTo(new java.io.File(moved, f.getName)))
    val loaded = ZoneMaps.loadManifest(spark, out, Seq("o_orderkey"), mf)
    assert(loaded.length == 4 &&
      loaded.map(_.getAs[Long]("n_rows")).sum == tables.orders.count())
    val cut = loaded.map(_.getAs[Long]("o_orderkey_max")).min
    val some = ZoneMaps.pruneFiles(loaded, "o_orderkey", 0L, cut)
    assert(some.nonEmpty && some.length < 4)
    spark.sql("DROP TABLE IF EXISTS graft_zm_durable_spec")
  }

  test("prepareTable refuses srcDir == outDir (and nesting)") {
    val d = Files.createTempDirectory("graft_zm_guard_").toString
    intercept[IllegalArgumentException] {
      GraftSession.prepareTable(spark, "graft_zm_guard_spec", d, d,
        Seq("o_orderkey"), Nil)
    }
    intercept[IllegalArgumentException] {
      GraftSession.prepareTable(spark, "graft_zm_guard_spec", d, s"$d/sub",
        Seq("o_orderkey"), Nil)
    }
  }

  test("equi-depth Z-order: an outlier key no longer kills pruning on the mass") {
    // skewed fixture: lineitem keys plus ONE far outlier in k1 — linear
    // value-space bucketing collapses every normal k1 into bucket 0, so
    // the layout degenerates to k2-only clustering and a k1 range keeps
    // every file; rank-space (equi-depth) bucketing is outlier-immune
    val skewed = tables.lineitem
      .selectExpr("l_orderkey as k1", "l_partkey as k2", "l_quantity as v")
      .unionByName(spark.sql("SELECT CAST(1000000000 AS BIGINT) k1, " +
        "CAST(0 AS BIGINT) k2, CAST(1.0 AS DOUBLE) v"))
    val dLin = Files.createTempDirectory("graft_zm_zlin_").toString
    val dEd = Files.createTempDirectory("graft_zm_zed_").toString
    ZoneMaps.clusteredWriteZN(skewed, Seq("k1", "k2"), dLin, 8)
    ZoneMaps.clusteredWriteZN(skewed, Seq("k1", "k2"), dEd, 8, equiDepth = true)
    val manLin = ZoneMaps.manifestRows(spark, dLin, Seq("k1"))
    val manEd = ZoneMaps.manifestRows(spark, dEd, Seq("k1"))
    // a 1/8th range over the NORMAL key mass (domain 0..199 at this SF)
    val keptLin = ZoneMaps.pruneFiles(manLin, "k1", 0L, 25L).length
    val keptEd = ZoneMaps.pruneFiles(manEd, "k1", 0L, 25L).length
    assert(keptLin >= 7,
      s"linear bucketing under an outlier should degenerate (kept $keptLin/8)")
    assert(keptEd <= 4,
      s"equi-depth bucketing should keep pruning under the outlier (kept $keptEd/8)")
    // correctness never depends on the layout: pruned ≡ naive on both
    for ((dz, kept) <- Seq(dLin -> keptLin, dEd -> keptEd)) {
      val range = col("k1") >= 0L && col("k1") < 25L
      val pruned = spark.read.parquet(registered(dz, Seq("k1"))).where(range)
      assert(scannedFiles(pruned) == kept)
      val naive = skewed.where(range).count()
      assert(pruned.count() == naive && naive > 0)
    }
  }

  test("incrementalBuild tolerates manifest file names a URI parser rejects") {
    val man = manifest
    val schema = man.head.schema
    val fake = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any]("/tmp/no such dir/part 0001 with spaces.parquet", 0L,
        null, null, 0L), schema)
    // the fake standing row names a vanished file with spaces: it must be
    // dropped (not throw IllegalArgumentException from URI.create)
    val maintained = ZoneMaps.incrementalBuild(
      spark, dir, Seq("l_shipdate"), man :+ fake.asInstanceOf[org.apache.spark.sql.Row])
    assert(maintained.length == man.length)
  }

  test("q135 registered query: scattered keys, pruned flag true, matches naive") {
    val got = SparkEntry.queries("q135_membership_prune")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Boolean]("pruned")))
    assert(got.forall(_.getAs[Int]("files_total") == ZoneMaps.membershipDemoFiles))
    val want = tables.lineitem.join(tables.part,
        col("l_partkey") === col("p_partkey"))
      .where(pmod(col("p_partkey"), lit(398L)) === 7)
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n"), (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[Long]("partkey"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_qty"))).toSet == want)
    // the IN-filtered fact scan rode the index and its blooms skipped files
    val scanned = indexedScannedFiles(SparkEntry.queries("q135_membership_prune")(spark, sf))
    assert(scanned > 0 && scanned < ZoneMaps.membershipDemoFiles)
  }

  /** Files opened by `df`'s zone-map-indexed scans only (a join's dim
    * side reads an unregistered table). */
  private def indexedScannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val idx = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[graft.sources.ZoneMapFileIndex])
    assert(idx.nonEmpty, "the fact scan must ride the zone-map index")
    idx.map(_.metrics("numFiles").value).sum
  }

  test("q136 registered query: recipe layout prunes the SECOND column, matches naive") {
    val got = SparkEntry.queries("q136_zorder_prepared")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Boolean]("pruned")))
    val mm = tables.lineitem
      .agg(min(col("l_partkey")), max(col("l_partkey"))).head()
    val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 8
    val hi = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 4
    val want = tables.lineitem
      .where(col("l_partkey") >= lo && col("l_partkey") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_qty"))).toSet == want)
  }

  test("q137: metadata-only aggregate answers from the manifest with zero data jobs") {
    val got = SparkEntry.queries("q137_metadata_agg")(spark, sf).head()
    val want = tables.lineitem.agg(count(lit(1)),
      min(col("l_shipdate")), max(col("l_shipdate"))).head()
    assert(got.getAs[Long]("n_rows") == want.getLong(0))
    // extremes equal the table's (normalize either temporal external form)
    def norm(a: Any): Any = a match {
      case t: java.sql.Timestamp =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      case x => x
    }
    assert(norm(got.getAs[Any]("l_shipdate_min")) == norm(want.get(1)))
    assert(norm(got.getAs[Any]("l_shipdate_max")) == norm(want.get(2)))
    // and it really is metadata-only: with the manifest memoized, the same
    // call succeeds even if the data directory were gone — structurally, a
    // 1-row local relation has no file sources
    val plan = SparkEntry.queries("q137_metadata_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"metadata-only plan must not scan files:\n$plan")
  }

  test("q138/topTailFiles: top-k by zone reads only tail files, matches full sort") {
    val got = SparkEntry.queries("q138_zonemap_topk")(spark, sf).collect()
    assert(got.length == 100)
    assert(got.forall(_.getAs[Boolean]("pruned")))
    val want = tables.lineitem
      .orderBy(col("l_shipdate").desc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_quantity").asc)
      .limit(100)
      .select(col("l_shipdate").cast("string"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq
    val gotT = got.map(r => (String.valueOf(r.get(0)), r.getAs[Long]("l_orderkey"),
      r.getAs[Int]("l_linenumber"), r.getAs[Double]("l_quantity"))).toSeq
    assert(gotT.map(t => (t._2, t._3, t._4)).sorted ==
      want.map(t => (t._2, t._3, t._4)).sorted)
    // the tail prune is strict, and the covering law holds for any k on
    // the clustered layout: taken files hold >= k rows
    val df = SparkEntry.queries("q138_zonemap_topk")(spark, sf)
    assert(ridesIndex(df) && scannedFiles(df) < ZoneMaps.demoFiles)
    val files = ZoneMaps.topTailFiles(spark, dir, "l_shipdate", 50L)
    assert(files.nonEmpty && files.length < 6)
    val inTail = spark.read.parquet(files.toIndexedSeq: _*).count()
    assert(inTail >= 50L)
    // empty manifest edge: k over an all-null column set
    assert(ZoneMaps.topTailFiles(spark, dir, "l_shipdate", Long.MaxValue)
      .length == 6, "k beyond the table keeps every non-null file")
  }

  test("q139: distributed probe reproduces q135's rows exactly") {
    val a = SparkEntry.queries("q135_membership_prune")(spark, sf).collect()
      .map(r => (r.getAs[Long]("partkey"), r.getAs[Long]("n_rows"),
        r.getAs[Double]("sum_qty"))).toSet
    val b = SparkEntry.queries("q139_membership_distributed")(spark, sf).collect()
    assert(b.forall(_.getAs[Boolean]("pruned")))
    assert(b.map(r => (r.getAs[Long]("partkey"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_qty"))).toSet == a && a.nonEmpty)
  }

  test("countInRange: interior from the manifest, boundary scanned, equals naive") {
    // the suite layout: 6 disjoint shipdate files over ~7 years
    val lo = ts("1996-01-01T00:00:00Z"); val hi = ts("1999-01-01T00:00:00Z")
    val got = ZoneMaps.countInRange(spark, dir, "l_shipdate", lo, hi,
      tsCol("1996-01-01 00:00:00"), tsCol("1999-01-01 00:00:00")).head()
    val want = tables.lineitem
      .where(col("l_shipdate") >= tsCol("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsCol("1999-01-01 00:00:00")).count()
    assert(got.getAs[Long]("n_rows") == want && want > 0)
    // disjoint layout law: at most one straddler per endpoint
    assert(got.getAs[Int]("files_scanned") <= 2)
    assert(got.getAs[Int]("files_total") == 6)
    // empty range: zero rows, zero scans
    val none = ZoneMaps.countInRange(spark, dir, "l_shipdate",
      ts("1990-01-01T00:00:00Z"), ts("1991-01-01T00:00:00Z"),
      tsCol("1990-01-01 00:00:00"), tsCol("1991-01-01 00:00:00")).head()
    assert(none.getAs[Long]("n_rows") == 0L && none.getAs[Int]("files_scanned") == 0)
    // full-domain range: every row, still only the (<=2) edge files opened
    val all = ZoneMaps.countInRange(spark, dir, "l_shipdate",
      ts("1990-01-01T00:00:00Z"), ts("2030-01-01T00:00:00Z"),
      tsCol("1990-01-01 00:00:00"), tsCol("2030-01-01 00:00:00")).head()
    assert(all.getAs[Long]("n_rows") == tables.lineitem.count())
    assert(all.getAs[Int]("files_scanned") == 0,
      "a range containing every envelope scans nothing")
  }

  test("q140 registered query: count matches naive, boundary-bounded and cheaper") {
    val got = SparkEntry.queries("q140_count_in_range")(spark, sf).head()
    val want = tables.lineitem
      .where(col("l_shipdate") >= tsCol("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsCol("1998-01-01 00:00:00")).count()
    assert(got.getAs[Long]("n_rows") == want && want > 0)
    assert(got.getAs[Boolean]("boundary_bounded"))
    assert(got.getAs[Boolean]("cheaper_than_scan"))
  }

  test("q133 registered query: pruned flag true, groups match naive") {
    val got = SparkEntry.queries("q133_zonemap_prune")(spark, sf)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("pruned")))
    assert(rows.forall(_.getAs[Int]("files_total") == ZoneMaps.demoFiles))
    val want = tables.lineitem
      .where(col("l_shipdate") >= tsCol("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsCol("1997-01-01 00:00:00"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        (round(sum(col("l_quantity")), 4) + lit(0.0)).as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val gotSet = rows.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSet
    assert(gotSet == want)
    // the year filter rode the zone-map index and skipped files
    val scanned = scannedFiles(got)
    assert(ridesIndex(got) && scanned > 0 && scanned < ZoneMaps.demoFiles)
  }

  test("q134 registered query: the dim's key range prunes the fact scan, join matches naive") {
    val df = SparkEntry.queries("q134_zonemap_join")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("pruned")))
    val b = tables.orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8
    val want = tables.lineitem
      .join(tables.orders.where(col("o_orderkey") <= cut),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate").cast("date")))
      .agg(count(lit(1)), round(sum(col("l_quantity")), 4) + lit(0.0))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getAs[Int]("yr"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_qty"))).toSet == want)
    val scanned = indexedScannedFiles(df)
    assert(scanned > 0 && scanned < ZoneMaps.demoFiles)
  }

  // ---- transparent (planner-applied) pruning -------------------------------

  test("transparent pruning: raw SQL over a prepared table scans exactly the explicit survivor set") {
    val base = Files.createTempDirectory("graft_zm_transp_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zm_transparent_spec",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmin = man.map(_.getAs[Long]("o_orderkey_min")).min
    val cut = man.map(_.getAs[Long]("o_orderkey_max")).min // first file's max
    val sqlText = "SELECT count(*) AS c FROM graft_zm_transparent_spec " +
      s"WHERE o_orderkey < $cut"
    val df = spark.sql(sqlText)
    val Array(r) = df.collect()
    // correctness: the pruned raw-SQL scan equals the unpruned filter
    assert(r.getLong(0) ==
      tables.orders.where(col("o_orderkey") < cut).count())
    // the plan rides the manifest-backed FileIndex...
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location
      .isInstanceOf[graft.sources.ZoneMapFileIndex]),
      "prepared-table scan must ride ZoneMapFileIndex")
    // ...and scanned EXACTLY the explicit API's survivor set, < total
    val explicit = ZoneMaps.pruneFiles(man, "o_orderkey", gmin, cut)
    assert(explicit.length < man.length)
    assert(scans.map(_.metrics("numFiles").value).sum == explicit.length,
      "transparent scan must open exactly the pruneFiles survivors")
    // the lint accepts the swapped plan and flags a rule-less one
    assert(graft.plans.PlanLint.unprunedPreparedScans(df).isEmpty)
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      rules.filterNot(_ == graft.plans.ApplyZoneMapIndex)
    try {
      val bare = spark.sql(sqlText)
      assert(graft.plans.PlanLint.unprunedPreparedScans(bare).nonEmpty,
        "lint must flag a prepared-table scan the rule did not swap")
    } finally spark.experimental.extraOptimizations = rules
    spark.sql("DROP TABLE IF EXISTS graft_zm_transparent_spec")
  }

  test("openTable: a fresh session regains transparent pruning from the persisted manifest alone") {
    val base = Files.createTempDirectory("graft_zm_open_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zm_open_spec",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmin = man.map(_.getAs[Long]("o_orderkey_min")).min
    val cut = man.map(_.getAs[Long]("o_orderkey_max")).min
    // fresh-session simulation: rows AND the transparent registration gone
    ZoneMaps.forget(spark, out)
    spark.sql("DROP TABLE IF EXISTS graft_zm_open_spec")
    GraftSession.openTable(spark, "graft_zm_open_spec", out,
      Seq("o_orderkey"), mf)
    val df = spark.sql(
      s"SELECT count(*) AS c FROM graft_zm_open_spec WHERE o_orderkey < $cut")
    val Array(r) = df.collect()
    assert(r.getLong(0) == tables.orders.where(col("o_orderkey") < cut).count())
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.relation.location
      .isInstanceOf[graft.sources.ZoneMapFileIndex]))
    val explicit = ZoneMaps.pruneFiles(
      ZoneMaps.manifestRows(spark, out, Seq("o_orderkey")), "o_orderkey",
      gmin, cut)
    assert(explicit.length < 4 &&
      scans.map(_.metrics("numFiles").value).sum == explicit.length)
    spark.sql("DROP TABLE IF EXISTS graft_zm_open_spec")
  }

  test("transparent pruning: IN-list on a bloom column prunes past the envelope") {
    val base = Files.createTempDirectory("graft_zm_transpm_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zm_transpm_spec",
      s"$sf/lineitem.parquet", out, Seq("l_partkey"), Nil,
      nFiles = 8, manifestPath = Some(mf), bloomCols = Seq("l_partkey"))
    val man = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
    // two scattered keys: one near each end of the domain — the envelope
    // keeps every in-range file, the blooms keep only the homes
    val gmin = man.map(_.getAs[Long]("l_partkey_min")).min
    val gmax = man.map(_.getAs[Long]("l_partkey_max")).max
    val keys = Array(gmin, gmax).sorted
    val df = spark.sql("SELECT count(*) AS c FROM graft_zm_transpm_spec " +
      s"WHERE l_partkey IN (${keys.mkString(", ")})")
    val Array(r) = df.collect()
    assert(r.getLong(0) ==
      tables.lineitem.where(col("l_partkey").isin(keys.toSeq: _*)).count())
    val mrows = ZoneMaps.membershipRows(spark, out, "l_partkey")
    val byBloom = ZoneMaps.membershipPruneFiles(mrows, "l_partkey", keys)
    assert(byBloom.length < man.length, "blooms must skip files")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.map(_.metrics("numFiles").value).sum == byBloom.length,
      "transparent IN-scan must open exactly the bloom survivors")
    spark.sql("DROP TABLE IF EXISTS graft_zm_transpm_spec")
  }

  test("q143 registered query: transparent bloom IN-scan opens exactly the membership survivors") {
    val df = SparkEntry.queries("q143_transparent_membership")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("pruned")))
    // matches the naive unpruned join semantics
    val want = tables.lineitem.join(tables.part,
        col("l_partkey") === col("p_partkey"))
      .where(pmod(col("p_partkey"), lit(398L)) === 7)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getAs[Long]("partkey"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_qty"))).toSet == want)
    // the raw-SQL plan rode the manifest-backed index and opened exactly
    // the bloom survivor set (fewer files than the envelope would keep)
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.relation.location
      .isInstanceOf[graft.sources.ZoneMapFileIndex]))
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned < ZoneMaps.membershipDemoFiles,
      s"bloom IN-scan must skip files (opened $scanned/16)")
  }

  test("transparent pruning: a two-tail OR skips the interior files") {
    val base = Files.createTempDirectory("graft_zm_or_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zm_or_spec",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmin = man.map(_.getAs[Long]("o_orderkey_min")).min
    val gmax = man.map(_.getAs[Long]("o_orderkey_max")).max
    val lo = man.map(_.getAs[Long]("o_orderkey_max")).min  // first file's max
    val hi = man.map(_.getAs[Long]("o_orderkey_min")).max  // last file's min
    val df = spark.sql("SELECT count(*) AS c FROM graft_zm_or_spec " +
      s"WHERE o_orderkey <= $lo OR o_orderkey >= $hi")
    val Array(r) = df.collect()
    assert(r.getLong(0) == tables.orders
      .where(col("o_orderkey") <= lo || col("o_orderkey") >= hi).count())
    // scanned ≡ the UNION of the two tails' explicit survivor sets, < 4
    val expected = (ZoneMaps.pruneFiles(man, "o_orderkey", gmin, lo,
      hiInclusive = true) ++
      ZoneMaps.pruneFiles(man, "o_orderkey", hi, gmax + 1)).toSet
    assert(expected.size < 4, "the interior files must be skippable")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.map(_.metrics("numFiles").value).sum == expected.size,
      "two-tail OR must open exactly the union of the tail survivors")
    spark.sql("DROP TABLE IF EXISTS graft_zm_or_spec")
  }

  test("q143 survives a session-cache release: openTable re-points a stale catalog table") {
    // the cross-suite shape that broke round 13's first cut: a release
    // drops the layout/manifest/registry memos (so the demo layout lands
    // in a FRESH temp dir on rebuild) while the CATALOG table survives —
    // openTable must re-point it, or raw SQL silently serves the old
    // directory and dodges the transparent index
    SparkEntry.queries("q143_transparent_membership")(spark, sf).collect()
    SessionCaches.release(spark)
    val df = SparkEntry.queries("q143_transparent_membership")(spark, sf)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.relation.location
      .isInstanceOf[graft.sources.ZoneMapFileIndex]),
      "post-release q143 must ride the zone-map index on the fresh layout")
  }

  test("q141 registered query: raw-SQL result matches naive, pruned flag true") {
    val got = SparkEntry.queries("q141_transparent_sql")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("pruned")))
    val mm = tables.lineitem
      .agg(min(col("l_partkey")), max(col("l_partkey"))).head()
    val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val hi = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 5 / 8
    val want = tables.lineitem
      .where(col("l_partkey") >= lo && col("l_partkey") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSet == want)
  }

  // ---- N-column Z-order ----------------------------------------------------

  test("clusteredWriteZN: a 3-column layout prunes on EVERY column; 2-column cannot serve the third") {
    val df3 = tables.lineitem.selectExpr("l_orderkey AS a", "l_partkey AS b",
      "l_suppkey AS c", "l_quantity AS v")
    val d3 = Files.createTempDirectory("graft_zm_z3_").toString
    val d2 = Files.createTempDirectory("graft_zm_z2_").toString
    ZoneMaps.clusteredWriteZN(df3, Seq("a", "b", "c"), d3, 16)
    ZoneMaps.clusteredWriteZN(df3, Seq("a", "b"), d2, 16)
    registered(d3, Seq("a", "b", "c"))
    for (cn <- Seq("a", "b", "c")) {
      val man = ZoneMaps.manifestRows(spark, d3, Seq(cn))
      val lo = man.map(_.getAs[Long](s"${cn}_min")).min
      val hi = man.map(_.getAs[Long](s"${cn}_max")).max
      // a ~1/4-wide band INSIDE the upper half must skip files on EVERY
      // interleaved column (a band straddling the 1/2 point would overlap
      // both MSB cells of the probed column and prune nothing — the
      // correct no-prune answer, not the property under test)
      val bLo = lo + (hi - lo) * 9 / 16; val bHi = lo + (hi - lo) * 13 / 16
      val kept = ZoneMaps.pruneFiles(man, cn, bLo, bHi).length
      assert(kept < man.length, s"3-col layout must prune on '$cn' (kept $kept/16)")
      // pruned ≡ naive, opening exactly the kept files
      val band = col(cn) >= bLo && col(cn) < bHi
      val pruned = spark.read.parquet(d3).where(band)
      assert(scannedFiles(pruned) == kept)
      assert(pruned.count() == df3.where(band).count())
    }
    // contrast: the 2-column layout leaves 'c' envelopes spanning the
    // domain — the same band prunes nothing
    val man2 = ZoneMaps.manifestRows(spark, d2, Seq("c"))
    val lo2 = man2.map(_.getAs[Long]("c_min")).min
    val hi2 = man2.map(_.getAs[Long]("c_max")).max
    val kept2 = ZoneMaps.pruneFiles(man2, "c",
      lo2 + (hi2 - lo2) * 3 / 8, lo2 + (hi2 - lo2) * 5 / 8).length
    assert(kept2 == man2.length,
      s"(a,b)-only layout should not separate 'c' (kept $kept2/16)")
  }

  test("clusteredWriteZN: working-column collisions refuse loudly; arity bounds enforced") {
    val df = tables.orders.selectExpr("o_orderkey AS a", "o_custkey AS b",
      "o_orderkey AS _gzm_0")
    val d = Files.createTempDirectory("graft_zm_zguard_").toString
    intercept[IllegalArgumentException] {
      ZoneMaps.clusteredWriteZN(df, Seq("a", "b"), d, 4)
    }
    intercept[IllegalArgumentException] {
      ZoneMaps.clusteredWriteZN(tables.orders, Seq("o_orderkey"), d, 4)
    }
    intercept[IllegalArgumentException] {
      ZoneMaps.clusteredWriteZN(tables.lineitem,
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity"), d, 4)
    }
  }

  test("q142 registered query: third-column band matches naive, pruned flag true") {
    val got = SparkEntry.queries("q142_zorder3")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("pruned")))
    val mm = tables.lineitem
      .agg(min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 9 / 16
    val hi = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 15 / 16
    val want = tables.lineitem
      .where(col("l_suppkey") >= lo && col("l_suppkey") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSet == want)
  }

  // ---- durable + incremental MEMBERSHIP manifest ---------------------------

  test("prepareTable with bloomCols but no manifestPath seeds session membership memos") {
    val base = Files.createTempDirectory("graft_zm_bnm_").toString
    GraftSession.prepareTable(spark, "graft_zm_bnm_spec",
      s"$sf/lineitem.parquet", s"$base/t", Seq("l_partkey"), Nil,
      nFiles = 8, bloomCols = Seq("l_partkey"))
    // the membership memo is live: a scattered two-key dim prunes via
    // blooms with no further build, and the pruned join equals naive
    val man = ZoneMaps.manifestRows(spark, s"$base/t", Seq("l_partkey"))
    val gmin = man.map(_.getAs[Long]("l_partkey_min")).min
    val gmax = man.map(_.getAs[Long]("l_partkey_max")).max
    import spark.implicits._
    val dim = Seq(gmin, gmax).toDF("dk")
    assert(ZoneMaps.membershipSourceIfSeeded(spark, s"$base/t", "l_partkey")
      .exists(_.isLeft), "prepareTable must seed the membership memo")
    val member = ZoneMaps.membershipPruneFiles(
      ZoneMaps.membershipRows(spark, s"$base/t", "l_partkey"), "l_partkey",
      Array(gmin, gmax).sorted)
    assert(member.length < man.length, "blooms must skip files")
    val pruned = spark.table("graft_zm_bnm_spec")
      .where(col("l_partkey").isin(gmin, gmax))
    assert(scannedFiles(pruned) == member.length)
    val got = pruned.join(dim, col("l_partkey") === col("dk")).count()
    val want = tables.lineitem
      .join(dim, col("l_partkey") === col("dk")).count()
    assert(got == want && want > 0)
    spark.sql("DROP TABLE IF EXISTS graft_zm_bnm_spec")
  }

  test("persisted membership manifest serves a fresh session with zero data-dir access") {
    val base = Files.createTempDirectory("graft_zm_mdur_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", out, 8)
    ZoneMaps.persistManifest(spark, out, Seq("l_partkey"), mf,
      bloomCols = Seq("l_partkey"))
    val mrows = ZoneMaps.membershipRows(spark, out, "l_partkey")
    val man = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
    val gmin = man.map(_.getAs[Long]("l_partkey_min")).min
    val gmax = man.map(_.getAs[Long]("l_partkey_max")).max
    val keys = Array(gmin, gmax).sorted
    val before = ZoneMaps.membershipPruneFiles(mrows, "l_partkey", keys).toSet
    assert(before.nonEmpty && before.size < man.length)
    // fresh session simulation: forget the record, DELETE the data,
    // re-load — the blooms must reseed from the manifest parquet alone
    ZoneMaps.forget(spark, out)
    val moved = Files.createTempDirectory("graft_zm_mdur_moved_").toString
    new java.io.File(out).listFiles().foreach(f =>
      f.renameTo(new java.io.File(moved, f.getName)))
    val loaded = ZoneMaps.loadManifest(spark, out, Seq("l_partkey"), mf)
    assert(loaded.length == 8)
    val reloaded = ZoneMaps.membershipRows(spark, out, "l_partkey")
    assert(ZoneMaps.membershipPruneFiles(reloaded, "l_partkey", keys).toSet
      == before, "post-load membership pruning must equal pre-deletion")
  }

  test("incrementalBuild maintains blooms batch-only, equal to a from-scratch membership build") {
    val d = Files.createTempDirectory("graft_zm_minc_").toString
    val (first, second) = (tables.orders.where(col("o_orderkey") % 2 === 0),
      tables.orders.where(col("o_orderkey") % 2 =!= 0))
    first.coalesce(2).write.mode("append").parquet(d)
    val standing = ZoneMaps.build(spark, d, Seq("o_custkey"),
      bloomCols = Seq("o_custkey")).collect()
    second.coalesce(2).write.mode("append").parquet(d)
    val maintained = ZoneMaps.incrementalBuild(spark, d, Seq("o_custkey"),
      standing, bloomCols = Seq("o_custkey"))
    val fresh = ZoneMaps.build(spark, d, Seq("o_custkey"),
      bloomCols = Seq("o_custkey")).collect()
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("file"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("o_custkey_min"), r.getAs[Long]("o_custkey_max"),
        r.getAs[Array[Byte]]("o_custkey_bloom").toSeq)
    }.toSet
    assert(canon(maintained) == canon(fresh),
      "maintained membership manifest must equal from-scratch (blooms included)")
  }

  test("idempotentBatchAppend: a replayed micro-batch lands ZERO new files") {
    val d = Files.createTempDirectory("graft_zm_idem_").resolve("t").toString
    val batch = tables.nation.select(col("n_nationkey").as("k"))
    graft.streaming.EventStreams.idempotentBatchAppend(d, batch, 0L)
    val afterOnce = spark.read.parquet(d).count()
    val filesOnce = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // the foreachBatch replay shape: same content, same batchId
    graft.streaming.EventStreams.idempotentBatchAppend(d, batch, 0L)
    assert(spark.read.parquet(d).count() == afterOnce, "replay must not duplicate rows")
    assert(new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet == filesOnce)
    // a NEW batch id appends
    graft.streaming.EventStreams.idempotentBatchAppend(d, batch, 1L)
    assert(spark.read.parquet(d).count() == 2 * afterOnce)
  }

  // ---- ADVICE hardening ----------------------------------------------------

  test("topTailFiles: NULL zone rows in tail files never shrink the scanned set below k") {
    val d = Files.createTempDirectory("graft_zm_nulltail_").toString
    // hand-placed layout: file A holds 1..100, file B holds 901..1000 plus
    // 150 NULLs. Counting raw n_rows would stop at B (250 ≥ 150) even
    // though B holds only 100 NON-NULL values — the 150th value lives in A
    import spark.implicits._
    (1L to 100L).toDF("v").coalesce(1).write.mode("append").parquet(d)
    ((901L to 1000L).map(java.lang.Long.valueOf) ++
      Seq.fill(150)(null.asInstanceOf[java.lang.Long]))
      .toDF("v").coalesce(1).write.mode("append").parquet(d)
    val files = ZoneMaps.topTailFiles(spark, d, "v", 150L)
    val topPruned = spark.read.parquet(files.toIndexedSeq: _*)
      .orderBy(col("v").desc_nulls_last).limit(150)
      .collect().flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
    val topFull = spark.read.parquet(d)
      .orderBy(col("v").desc_nulls_last).limit(150)
      .collect().flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq
    assert(topPruned == topFull,
      "tail-file top-k over a null-bearing tail must equal the full sort")
    assert(files.length == 2, "both files are needed once nulls are discounted")
  }

  test("topTailFiles: fewer than k non-NULL values scans every file, all-NULL ones included") {
    // file A = {1, 2, 3}, file B = 5 NULLs, k = 5: DESC sorts NULLS LAST,
    // so two of B's NULL rows belong to the top 5
    import spark.implicits._
    val nulls = (n: Int) => Seq.fill(n)(null.asInstanceOf[java.lang.Long])
    val d = Files.createTempDirectory("graft_zm_nullfew_").toString
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("append").parquet(d)
    nulls(5).toDF("v").coalesce(1).write.mode("append").parquet(d)
    def top(df: org.apache.spark.sql.DataFrame): Seq[Option[Any]] =
      df.orderBy(col("v").desc).limit(5).collect().map(r => Option(r.get(0))).toSeq
    val files = ZoneMaps.topTailFiles(spark, d, "v", 5L)
    assert(top(spark.read.parquet(files.toIndexedSeq: _*)) == top(spark.read.parquet(d)),
      "the tail-file top-k must equal the full sort, NULL rows included")
    assert(files.length == 2)
    // an all-NULL table has no bound to prune by: every file is scanned
    val n = Files.createTempDirectory("graft_zm_allnull_").toString
    nulls(4).toDF("v").repartition(2).write.mode("overwrite").parquet(n)
    assert(ZoneMaps.topTailFiles(spark, n, "v", 3L).length ==
      spark.read.parquet(n).inputFiles.length)
  }

  test("statsOnlyAggregate emits extremes in the COLUMN's own type") {
    val d = Files.createTempDirectory("graft_zm_stype_").toString
    tables.nation.select(col("n_nationkey").cast("int").as("k"))
      .coalesce(2).write.mode("overwrite").parquet(d)
    val got = ZoneMaps.statsOnlyAggregate(spark, d, "k")
    assert(got.schema("k_min").dataType ==
      org.apache.spark.sql.types.IntegerType,
      s"metadata-only min must keep the INT source type, got ${got.schema("k_min").dataType}")
    val r = got.head()
    val want = spark.read.parquet(d).agg(count(lit(1)), min(col("k")), max(col("k"))).head()
    assert(r.getAs[Long]("n_rows") == want.getLong(0))
    assert(r.getAs[Int]("k_min") == want.getInt(1))
    assert(r.getAs[Int]("k_max") == want.getInt(2))
  }

  test("prepareTable overlap guard understands scheme-qualified URIs") {
    val d = Files.createTempDirectory("graft_zm_uriguard_").toString
    // 'file:///x' vs '/x' name the same directory — must refuse
    intercept[IllegalArgumentException] {
      GraftSession.prepareTable(spark, "graft_zm_uriguard_spec",
        s"file://$d", d, Seq("o_orderkey"), Nil)
    }
    // scheme-qualified nesting must refuse too (no fs access needed — the
    // guard fires before any read)
    intercept[IllegalArgumentException] {
      GraftSession.prepareTable(spark, "graft_zm_uriguard_spec",
        "hdfs://nn/warehouse/t", "hdfs://nn/warehouse/t/out",
        Seq("o_orderkey"), Nil)
    }
    // different filesystems can never nest — allowed past the guard (the
    // local read then fails on the nonexistent path, which is fine)
    intercept[Exception] {
      GraftSession.prepareTable(spark, "graft_zm_uriguard_spec",
        s"$d/nope_src", s"$d/nope_out", Seq("o_orderkey"), Nil)
    }
  }

  // ---- one session record per directory -----------------------------------

  /** Jobs `body` launches, read off a job group (a marker job in a second
    * group shows the status tracker has caught up). */
  test("a manifest loaded under one spelling of a directory serves another without a job") {
    val base = Files.createTempDirectory("graft_zm_spell_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    ZoneMaps.clusteredWrite(tables.orders, "o_orderkey", out, 4)
    ZoneMaps.writeManifest(spark, out, Seq("o_orderkey"), mf)
    val loaded = ZoneMaps.loadManifest(spark, out, Seq("o_orderkey"), mf)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf("zm-spell") {
      rows = ZoneMaps.manifestRows(spark, s"file://$out", Seq("o_orderkey"))
    }
    assert(jobs == 0, "the qualified spelling must read the loaded record")
    assert(rows.length == loaded.length)
    ZoneMaps.forget(spark, out)
  }

  test("forget drops the directory's one record: rows, blooms and registration") {
    val s = spark.newSession()
    val d = Files.createTempDirectory("graft_zm_forget_").toString
    ZoneMaps.clusteredWrite(tables.orders, "o_orderkey", d, 4)
    try {
      ZoneMaps.refreshManifest(s, d, Seq("o_orderkey"), Seq("o_orderkey"))
      graft.sources.ZoneMapFileIndex.enable(s, s"file://$d", Seq("o_orderkey"),
        Seq("o_orderkey"))
      assert(ZoneMaps.manifestRows(s, d, Seq("o_orderkey")).length == 4)
      assert(ZoneMaps.membershipRows(s, d, "o_orderkey").length == 4)
      val entries = SessionCaches.entriesFor(s)
      ZoneMaps.forget(s, s"file://$d")
      assert(SessionCaches.entriesFor(s) == entries - 1,
        "rows, blooms and registration are one entry")
      assert(graft.sources.ZoneMapFileIndex.registeredForDir(s, d).isEmpty)
      assert(ZoneMaps.membershipSourceIfSeeded(s, d, "o_orderkey").isEmpty)
      assert(ZoneMaps.zoneTable(s, d).rows.isEmpty &&
        ZoneMaps.zoneTable(s, d).cols.isEmpty)
    } finally SessionCaches.release(s)
  }

  test("route priority: driver blooms built over a persisted-route load win, same survivors") {
    val base = Files.createTempDirectory("graft_zm_route_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", out, 8)
    ZoneMaps.writeManifest(spark, out, Seq("l_partkey"), mf,
      bloomCols = Seq("l_partkey"))
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      val man = ZoneMaps.loadManifest(spark, out, Seq("l_partkey"), mf)
      assert(ZoneMaps.membershipSourceIfSeeded(spark, out, "l_partkey")
        .exists(_.isRight), "the load above the threshold takes the persisted route")
      val keys = Array(man.map(_.getAs[Long]("l_partkey_min")).min,
        man.map(_.getAs[Long]("l_partkey_max")).max).sorted
      val persisted = ZoneMaps.membershipPruneFilesDistributed(
        spark.read.parquet(mf), "l_partkey", keys).toSet
      assert(persisted.nonEmpty && persisted.size < man.length)
      val mrows = ZoneMaps.membershipRows(spark, out, "l_partkey")
      assert(ZoneMaps.membershipSourceIfSeeded(spark, out, "l_partkey")
        .exists(_.isLeft), "driver blooms win over the persisted route")
      assert(ZoneMaps.membershipPruneFiles(mrows, "l_partkey", keys).toSet ==
        persisted)
      val df = spark.read.parquet(registered(out, Seq("l_partkey"),
        Seq("l_partkey"))).where(col("l_partkey").isin(keys.toSeq: _*))
      assert(scannedFiles(df) == persisted.size)
      assert(df.count() == tables.lineitem
        .where(col("l_partkey").isin(keys.toSeq: _*)).count())
    } finally {
      spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
      ZoneMaps.forget(spark, out)
    }
  }

  test("footer-built manifest: an integral or timestamp layout builds with zero jobs") {
    val d = Files.createTempDirectory("graft_zm_footer_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_shipdate", d, 4)
    val cols = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_returnflag")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf("zm-footer") {
      rows = ZoneMaps.manifestRows(spark, d, cols)
    }
    assert(jobs == 0, "the rows come off the footers the write left")
    assert(rows.length == 4 &&
      sameManifest(rows, ZoneMaps.build(spark, d, cols).collect()))
    // above Spark's parallel-discovery threshold the footers are read in
    // one job over the file list, with the same rows
    ZoneMaps.forget(spark, d)
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "2")
    try {
      val inJob = jobsOf("zm-footer-job") {
        rows = ZoneMaps.manifestRows(spark, d, cols)
      }
      assert(inJob == 1 &&
        sameManifest(rows, ZoneMaps.build(spark, d, cols).collect()))
    } finally {
      spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
      ZoneMaps.forget(spark, d)
    }
  }

  test("an events.ts layout writes INT64 micros: zero-job manifest, the same values back") {
    // INT96, Spark's session default for TIMESTAMP, keeps no footer
    // statistics; the layout writer overrides it for its own write only
    val d = Files.createTempDirectory("graft_zm_ts_").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    ZoneMaps.clusteredWrite(tables.events, "ts", d, 4)
    assert(spark.conf.getOption(key) == before, "the session default changed")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf("zm-ts-footer") {
      rows = ZoneMaps.manifestRows(spark, d, Seq("ts", "event_id"))
    }
    assert(jobs == 0, "the ts envelopes come off the footers the write left")
    assert(rows.length == 4 && sameManifest(rows,
      ZoneMaps.build(spark, d, Seq("ts", "event_id")).collect()))
    val back = spark.read.parquet(d)
    assert(back.schema == tables.events.schema)
    assert(back.exceptAll(tables.events).isEmpty &&
      tables.events.exceptAll(back).isEmpty)
    ZoneMaps.forget(spark, d)
  }

  test("footer route: a double, a bloom, a >4 KB string and a non-Spark file take the scan") {
    import spark.implicits._
    var n = 0
    def viaScan(d: String, cols: Seq[String], blooms: Seq[String] = Nil): Unit = {
      ZoneMaps.forget(spark, d)
      var rows = Array.empty[org.apache.spark.sql.Row]
      n += 1
      val jobs = jobsOf(s"zm-route-$n") {
        rows = blooms.headOption.fold(ZoneMaps.manifestRows(spark, d, cols))(
          ZoneMaps.membershipRows(spark, d, _))
      }
      assert(jobs > 0, s"$cols / blooms $blooms must take the scan")
      assert(rows.nonEmpty &&
        sameManifest(rows, ZoneMaps.build(spark, d, cols, blooms).collect()))
      ZoneMaps.forget(spark, d)
    }
    val li = Files.createTempDirectory("graft_zm_route_li_").toString
    ZoneMaps.clusteredWrite(tables.lineitem, "l_orderkey", li, 3)
    viaScan(li, Seq("l_quantity"))
    viaScan(li, Nil, Seq("l_orderkey"))
    // parquet keeps no min/max for a column chunk over 4 KB of statistics
    val wide = Files.createTempDirectory("graft_zm_route_wide_").toString + "/t"
    Seq((1L, "x" * 5000), (2L, "y")).toDF("k", "s").coalesce(1)
      .write.parquet(wide)
    viaScan(wide, Seq("s"))
    // a file written without Spark carries no Spark row schema
    val plain = Files.createTempDirectory("graft_zm_route_plain_").toString
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 k; }")
    val conf = spark.sessionState.newHadoopConf()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$plain/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try Seq(5L, 3L, 9L).foreach(k => w.write(groups.newGroup().append("k", k)))
    finally w.close()
    viaScan(plain, Seq("k"))
  }

  test("prepareTable (Z-order, persisted): at most 7 jobs, the catalog table reads as inferred") {
    val base = Files.createTempDirectory("graft_zm_prepjobs_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    val jobs = jobsOf("zm-prepare") {
      GraftSession.prepareTable(spark, "graft_zm_prepjobs_spec",
        s"$sf/lineitem.parquet", out, Seq("l_orderkey", "l_partkey"), Nil,
        nFiles = 8, manifestPath = Some(mf))
    }
    assert(jobs <= 7, s"prepareTable ran $jobs jobs")
    // the table is declared with the written schema instead of inferring
    // it; it must read exactly as the inferred one
    assert(spark.table("graft_zm_prepjobs_spec").schema ==
      spark.read.parquet(out).schema)
    spark.sql("DROP TABLE IF EXISTS graft_zm_prepjobs_spec")
    ZoneMaps.forget(spark, out)
  }
}
