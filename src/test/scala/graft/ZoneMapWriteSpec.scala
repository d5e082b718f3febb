package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ZoneMapFileIndex, ZoneMaps}

/** Round-14 transparent-layer hardening: the stale-manifest guard (a
  * directory file the manifest does not know is NEVER skipped), `refresh()`
  * purging memos + registration, WRITE-SIDE transparency (`INSERT INTO` /
  * path append folds the manifest forward inside the command), the
  * batch-granularity idempotent commit, URL-encoding-safe path
  * normalization, scheme-qualified registry keys, NULL-predicate and
  * string-prefix pruning, and the persisted-consult bloom probe. */
class ZoneMapWriteSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- path normalization & registry keys ----------------------------------

  test("normPath reconciles URL-encoded and raw spellings; registry keys carry the scheme") {
    // manifest side (input_file_name, encoded) vs FileStatus side (raw)
    assert(ZoneMapFileIndex.normPath("file:///tmp/a%20b/f.parquet") ==
      "/tmp/a b/f.parquet")
    assert(ZoneMapFileIndex.normPath("file:/tmp/a b/f.parquet") ==
      "/tmp/a b/f.parquet")
    assert(ZoneMapFileIndex.normPath("/tmp/plain/f.parquet") ==
      "/tmp/plain/f.parquet")
    // '#' and '?' are legal in file names — the fragment/query guard must
    // not truncate them (either spelling)
    assert(ZoneMapFileIndex.normPath("/tmp/x#y") == "/tmp/x#y")
    assert(ZoneMapFileIndex.normPath("file:/tmp/x#y") == "/tmp/x#y")
    // registry: same path on different filesystems must NOT collide
    assert(ZoneMapFileIndex.registryKey("/tmp/x") ==
      ZoneMapFileIndex.registryKey("file:///tmp/x"))
    assert(ZoneMapFileIndex.registryKey("hdfs://nn/tmp/x") !=
      ZoneMapFileIndex.registryKey("/tmp/x"))
    assert(ZoneMapFileIndex.registryKey("hdfs://nn/tmp/x") ==
      "hdfs://nn/tmp/x")
  }

  test("transparent pruning works under a space-bearing directory name") {
    val base = Files.createTempDirectory("graft_zmw_sp_").toString
    Files.createDirectory(java.nio.file.Paths.get(base, "zone map data"))
    val out = s"$base/zone map data/t"
    val mf = s"$base/zone map data/m"
    GraftSession.prepareTable(spark, "graft_zmw_space",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmin = man.map(_.getAs[Long]("o_orderkey_min")).min
    val cut = man.map(_.getAs[Long]("o_orderkey_max")).min
    val df = spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_space WHERE o_orderkey < $cut")
    assert(df.collect().head.getLong(0) ==
      tables.orders.where(col("o_orderkey") < cut).count())
    assert(ridesIndex(df))
    // the encoding fix is what makes this EQUAL (not merely <=): a
    // mismatch would leave every file "unknown" and scan all 4
    val explicit = ZoneMaps.pruneFiles(man, "o_orderkey", gmin, cut)
    assert(explicit.length < man.length)
    assert(scannedFiles(spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_space WHERE o_orderkey < $cut")) ==
      explicit.length)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_space")
  }

  test("incrementalBuild maintains exactly under a space-bearing directory") {
    val base = Files.createTempDirectory("graft_zmw_spinc_").toString
    Files.createDirectory(java.nio.file.Paths.get(base, "a b"))
    val dir = s"$base/a b/t"
    ZoneMaps.clusteredWrite(tables.orders.where(col("o_orderkey") % 2 === 0),
      "o_orderkey", dir, 3)
    val standing = ZoneMaps.build(spark, dir, Seq("o_orderkey")).collect()
    tables.orders.where(col("o_orderkey") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(dir)
    val maintained = ZoneMaps.incrementalBuild(
      spark, dir, Seq("o_orderkey"), standing)
    val scratch = ZoneMaps.build(spark, dir, Seq("o_orderkey")).collect()
    def keyOf(r: org.apache.spark.sql.Row) =
      (ZoneMapFileIndex.normPath(r.getAs[String]("file")),
        r.getAs[Long]("n_rows"))
    assert(maintained.map(keyOf).toSet == scratch.map(keyOf).toSet)
    assert(maintained.length == scratch.length)
  }

  // ---- the stale-manifest guard --------------------------------------------

  test("a file appended behind the manifest's back is served, not skipped (loud fallback)") {
    val base = Files.createTempDirectory("graft_zmw_stale_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_stale",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmax = man.map(_.getAs[Long]("o_orderkey_max")).max
    val lo = gmax - 100
    // OUT-OF-BAND append: hard-copy a parquet file into the directory —
    // no engine write path, no manifest maintenance
    val side = s"$base/side"
    tables.orders.where(col("o_orderkey") > lo).coalesce(1)
      .write.parquet(side)
    val part = new java.io.File(side).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(out, "oob-" + part.getName))
    spark.catalog.refreshTable("graft_zmw_stale")
    val before = ZoneMapFileIndex.staleServes.get()
    val df = spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_stale WHERE o_orderkey > $lo")
    // CORRECTNESS: the out-of-band rows are in the answer (pre-guard the
    // transparent index silently dropped them)
    assert(df.collect().head.getLong(0) ==
      2 * tables.orders.where(col("o_orderkey") > lo).count())
    assert(ridesIndex(df))
    assert(ZoneMapFileIndex.staleServes.get() > before,
      "the stale serve must be observable")
    // the guard over-keeps ONLY the unknown file: known files still prune
    val survivors = ZoneMaps.pruneFiles(man, "o_orderkey", lo + 1, gmax,
      hiInclusive = true)
    assert(survivors.length < man.length)
    assert(scannedFiles(spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_stale WHERE o_orderkey > $lo")) ==
      survivors.length + 1)
    // folding the manifest forward restores full pruning, no more fallback
    ZoneMaps.refreshManifest(spark, out, Seq("o_orderkey"))
    val after = ZoneMapFileIndex.staleServes.get()
    val df2 = spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_stale WHERE o_orderkey > $lo")
    assert(df2.collect().head.getLong(0) ==
      2 * tables.orders.where(col("o_orderkey") > lo).count())
    assert(ZoneMapFileIndex.staleServes.get() == after,
      "a refreshed manifest must serve without the fallback")
    spark.sql("DROP TABLE IF EXISTS graft_zmw_stale")
  }

  test("refresh() purges memos and registration; re-prepare restores pruning") {
    val base = Files.createTempDirectory("graft_zmw_refresh_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_refresh",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val cut = man.map(_.getAs[Long]("o_orderkey_max")).min
    val q = s"SELECT count(*) AS c FROM graft_zmw_refresh WHERE o_orderkey < $cut"
    val df = spark.sql(q)
    df.collect()
    val idx = fileScans(df.queryExecution.executedPlan)
      .head.relation.location.asInstanceOf[ZoneMapFileIndex]
    idx.refresh()
    assert(ZoneMapFileIndex.registeredForDir(spark, out).isEmpty,
      "refresh must drop the transparent registration")
    val bare = spark.sql(q)
    assert(bare.collect().head.getLong(0) ==
      tables.orders.where(col("o_orderkey") < cut).count())
    assert(!ridesIndex(bare), "a refreshed dir serves the real listing")
    // re-running the ingest recipe brings pruning back
    GraftSession.prepareTable(spark, "graft_zmw_refresh",
      s"$sf/orders.parquet", out + "2", Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf + "2"))
    val again = spark.sql(q)
    again.collect()
    assert(ridesIndex(again), "re-prepare must restore the transparent index")
    spark.sql("DROP TABLE IF EXISTS graft_zmw_refresh")
  }

  // ---- write-side transparency ---------------------------------------------

  test("INSERT INTO a prepared table folds the manifest forward (memo, blooms, persisted)") {
    val base = Files.createTempDirectory("graft_zmw_ins_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_ins",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf), bloomCols = Seq("o_orderkey"))
    val man0 = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmax = man0.map(_.getAs[Long]("o_orderkey_max")).max
    tables.orders.where(col("o_orderkey") > gmax - 100)
      .createOrReplaceTempView("graft_zmw_ins_src")
    val before = ZoneMapFileIndex.staleServes.get()
    spark.sql(
      """INSERT INTO graft_zmw_ins
        |SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_ins_src""".stripMargin)
    // the session memo knows the new file WITHOUT any ZoneMaps call...
    val man1 = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    assert(man1.length == man0.length + 1)
    // ...equals a from-scratch build...
    val scratch = ZoneMaps.build(spark, out, Seq("o_orderkey"),
      Seq("o_orderkey"), expectedKeysPerFile = 1L << 13).collect()
    def keyOf(r: org.apache.spark.sql.Row) =
      (ZoneMapFileIndex.normPath(r.getAs[String]("file")),
        r.getAs[Long]("n_rows"))
    assert(man1.map(keyOf).toSet == scratch.map(keyOf).toSet)
    // ...and the PERSISTED manifest was rewritten too (fresh sessions see it)
    assert(spark.read.parquet(mf).count() == man1.length)
    // a raw-SQL range query prunes INCLUDING the new file — exact, no
    // stale fallback anywhere
    val df = spark.sql("SELECT count(*) AS c FROM graft_zmw_ins " +
      s"WHERE o_orderkey > ${gmax - 100}")
    assert(df.collect().head.getLong(0) ==
      2 * tables.orders.where(col("o_orderkey") > gmax - 100).count())
    assert(ridesIndex(df))
    val survivors = ZoneMaps.pruneFiles(man1, "o_orderkey", gmax - 99,
      gmax, hiInclusive = true)
    assert(survivors.length < man1.length)
    assert(scannedFiles(spark.sql("SELECT count(*) AS c FROM graft_zmw_ins " +
      s"WHERE o_orderkey > ${gmax - 100}")) == survivors.length)
    assert(ZoneMapFileIndex.staleServes.get() == before,
      "the maintained manifest must serve without the stale fallback")
    // the maintained BLOOMS work: an IN probe of a key in the inserted
    // range prunes past the envelope (the inserted file is one of the
    // bloom survivors)
    val key = gmax // present in both the tail file and the inserted file
    val mrows = ZoneMaps.membershipRows(spark, out, "o_orderkey")
    val byBloom = ZoneMaps.membershipPruneFiles(mrows, "o_orderkey", Array(key))
    val dfIn = spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_ins WHERE o_orderkey IN ($key)")
    assert(dfIn.collect().head.getLong(0) == 2)
    assert(scannedFiles(spark.sql(
      s"SELECT count(*) AS c FROM graft_zmw_ins WHERE o_orderkey IN ($key)")) ==
      byBloom.length)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_ins")
  }

  test("a path-based df.write append to a registered dir folds the manifest forward too") {
    val base = Files.createTempDirectory("graft_zmw_app_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_app",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    val man0 = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val gmax = man0.map(_.getAs[Long]("o_orderkey_max")).max
    tables.orders.where(col("o_orderkey") > gmax - 50).coalesce(1)
      .write.mode("append").parquet(out)
    val man1 = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    assert(man1.length > man0.length,
      "path append must fold the manifest forward in-session")
    val scratch = ZoneMaps.build(spark, out, Seq("o_orderkey")).collect()
    assert(man1.map(_.getAs[Long]("n_rows")).sum ==
      scratch.map(_.getAs[Long]("n_rows")).sum)
    assert(man1.length == scratch.length)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_app")
  }

  test("INSERT OVERWRITE a prepared table replaces the manifest, not merges it") {
    val base = Files.createTempDirectory("graft_zmw_ovw_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_ovw",
      s"$sf/orders.parquet", out, Seq("o_orderkey"), Nil,
      nFiles = 4, manifestPath = Some(mf))
    tables.orders.limit(100).createOrReplaceTempView("graft_zmw_ovw_src")
    spark.sql(
      """INSERT OVERWRITE TABLE graft_zmw_ovw
        |SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_ovw_src""".stripMargin)
    // the fold drops every vanished file and indexes the replacement —
    // maintained ≡ from-scratch over the post-overwrite directory
    val man = ZoneMaps.manifestRows(spark, out, Seq("o_orderkey"))
    val scratch = ZoneMaps.build(spark, out, Seq("o_orderkey")).collect()
    assert(man.length == scratch.length)
    assert(man.map(_.getAs[Long]("n_rows")).sum == 100L)
    val df = spark.sql("SELECT count(*) AS c FROM graft_zmw_ovw")
    assert(df.collect().head.getLong(0) == 100L)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_ovw")
  }

  test("q144 registered query: INSERT-maintained prune matches naive, pruned flag true") {
    val got = SparkEntry.queries("q144_insert_maintained")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("pruned")))
    val lo = lit("1998-06-01 00:00:00").cast("timestamp_ntz")
    val want = tables.lineitem
      .where(col("l_shipdate") >= lo.cast(tables.lineitem.schema("l_shipdate").dataType))
      .groupBy(col("l_returnflag"))
      .agg((count(lit(1)) * 2).as("n"),
        (round(sum(col("l_quantity")) * 2, 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSet == want)
  }

  // ---- batch-granularity idempotent commit ---------------------------------

  test("idempotentBatchAppend: a replay that partitions DIFFERENTLY lands nothing") {
    import graft.streaming.EventStreams
    val dir = Files.createTempDirectory("graft_zmw_batch_").toString
    val batch = spark.range(0, 1000).toDF("id")
    EventStreams.idempotentBatchAppend(dir, batch.repartition(3), 7L)
    val files0 = spark.read.parquet(dir).inputFiles.toSet
    assert(spark.read.parquet(dir).count() == 1000)
    // the round-13 hazard: a replayed batch staging a DIFFERENT part count
    // (changed parallelism / AQE) must not interleave old and new parts
    EventStreams.idempotentBatchAppend(dir, batch.repartition(5), 7L)
    assert(spark.read.parquet(dir).count() == 1000,
      "a committed batch must be a no-op regardless of the replay's split")
    assert(spark.read.parquet(dir).inputFiles.toSet == files0)
  }

  test("idempotentBatchAppend: a crash MID-commit completes exactly on a differently-split retry") {
    import graft.streaming.EventStreams
    val dir = Files.createTempDirectory("graft_zmw_crash_").toString
    val batch = spark.range(0, 1000).toDF("id")
    EventStreams.idempotentBatchAppend(dir, batch.repartition(4), 3L)
    assert(spark.read.parquet(dir).count() == 1000)
    // simulate the crash: the commit record never landed (neither the
    // marker nor its ledger fold — compaction normally folds the marker
    // into _graft_commits right after commit), and one part is missing
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b${3L}%06d")
    fs.delete(marker, false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_commits"), false)
    assert(!graft.streaming.EventStreams.committedBatchIds(fs, dir).contains(3L),
      "test setup: the commit record must be gone")
    val one = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("b000003-.*\\.parquet")).head
    assert(one.delete())
    // the retry arrives with a DIFFERENT split — the leftovers must be
    // cleared, not interleaved
    EventStreams.idempotentBatchAppend(dir, batch.repartition(2), 3L)
    assert(spark.read.parquet(dir).count() == 1000)
    assert(spark.read.parquet(dir).agg(sum(col("id"))).head().getLong(0) ==
      (0L until 1000L).sum)
  }

  // ---- NULL-predicate and prefix pruning -----------------------------------

  private lazy val nullDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zmw_null_").toString
    val allNull = (1 to 50).map(i => (Option.empty[Long], i.toLong))
    val noNull = (1 to 60).map(i => (Some(i.toLong * 10), i.toLong))
    val mixed = (1 to 40).map(i =>
      (if (i % 2 == 0) Some(i.toLong * 100) else None, i.toLong))
    // three single-file writes BEFORE registration → a layout with one
    // all-NULL file, one fully-populated file, one mixed file
    allNull.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    noNull.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    mixed.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    ZoneMaps.refreshManifest(spark, dir, Seq("k"))
    ZoneMapFileIndex.enable(spark, dir, Seq("k"))
    GraftSession.ensureOptimizations(spark)
    dir
  }

  test("IS NOT NULL skips all-NULL files; IS NULL skips fully-populated files") {
    val df1 = spark.read.parquet(nullDir).where(col("k").isNotNull)
    assert(df1.count() == 60 + 20)
    assert(scannedFiles(spark.read.parquet(nullDir)
      .where(col("k").isNotNull).groupBy().count()) == 2,
      "IS NOT NULL must skip the all-NULL file")
    val df2 = spark.read.parquet(nullDir).where(col("k").isNull)
    assert(df2.count() == 50 + 20)
    assert(scannedFiles(spark.read.parquet(nullDir)
      .where(col("k").isNull).groupBy().count()) == 2,
      "IS NULL must skip the fully-populated file")
    // conjunction: IS NOT NULL AND range intersects both constraints —
    // k >= 1000 keeps only the mixed file's envelope [200, 4000]
    val df3 = spark.read.parquet(nullDir)
      .where(col("k").isNotNull && col("k") >= 1000L)
    assert(df3.count() ==
      (1 to 40).count(i => i % 2 == 0 && i * 100 >= 1000))
    assert(scannedFiles(spark.read.parquet(nullDir)
      .where(col("k").isNotNull && col("k") >= 1000L).groupBy().count()) == 1)
  }

  test("EqualNullSafe: <=> NULL prunes like IS NULL, <=> v like equality") {
    val dfNull = spark.read.parquet(nullDir).where(col("k") <=> lit(null))
    assert(dfNull.count() == 70)
    assert(scannedFiles(spark.read.parquet(nullDir)
      .where(col("k") <=> lit(null)).groupBy().count()) == 2)
    // 50 lives only in the no-null file's envelope [10, 600] — below the
    // mixed file's [200, 4000], and the all-NULL file has no envelope
    val dfV = spark.read.parquet(nullDir).where(col("k") <=> 50L)
    assert(dfV.count() == 1)
    assert(scannedFiles(spark.read.parquet(nullDir)
      .where(col("k") <=> 50L).groupBy().count()) == 1)
  }

  test("q145 registered query: IS NOT NULL prune matches naive, pruned flag true") {
    val got = SparkEntry.queries("q145_null_prune")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("pruned")))
    val want = tables.lineitem.where(col("l_returnflag") =!= "N")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_retqty"))).toSet == want)
  }

  test("LIKE 'p%' (StartsWith) prunes string envelopes in UTF-8 binary order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zmw_pref_").toString
    val words = Seq("alpha", "amber", "apple", "bay", "berry", "blue",
      "cedar", "cherry", "citrus")
    words.zipWithIndex.map { case (w, i) => (w, i.toLong) }.toDF("s", "v")
      .repartitionByRange(3, col("s")).sortWithinPartitions("s")
      .write.mode("overwrite").parquet(dir)
    ZoneMaps.refreshManifest(spark, dir, Seq("s"))
    ZoneMapFileIndex.enable(spark, dir, Seq("s"))
    GraftSession.ensureOptimizations(spark)
    val df = spark.read.parquet(dir).where(col("s").startsWith("b"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("bay", "berry", "blue"))
    assert(scannedFiles(spark.read.parquet(dir)
      .where(col("s").startsWith("b")).groupBy().count()) < 3,
      "the prefix band must skip non-overlapping files")
    // a prefix beyond every envelope scans nothing
    assert(scannedFiles(spark.read.parquet(dir)
      .where(col("s").startsWith("zz")).groupBy().count()) == 0)
    // empty prefix degrades losslessly (keeps everything)
    assert(spark.read.parquet(dir).where(col("s").startsWith(""))
      .count() == words.length)
  }

  test("transparent pruning serves TIMESTAMP range predicates from raw SQL") {
    val base = Files.createTempDirectory("graft_zmw_ts_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_ts",
      s"$sf/lineitem.parquet", out, Seq("l_shipdate"), Nil,
      nFiles = 6, manifestPath = Some(mf))
    val q = "SELECT count(*) AS c FROM graft_zmw_ts WHERE " +
      "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
      "l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'"
    tables.lineitem.createOrReplaceTempView("graft_zmw_ts_src")
    val want = spark.sql(q.replace("graft_zmw_ts", "graft_zmw_ts_src"))
      .collect().head.getLong(0)
    val df = spark.sql(q)
    assert(df.collect().head.getLong(0) == want)
    assert(ridesIndex(df))
    // temporal bounds normalize across the TIMESTAMP/NTZ physical forms:
    // scanned ≡ the explicit API's survivor set, strictly < total
    val man = ZoneMaps.manifestRows(spark, out, Seq("l_shipdate"))
    val explicit = ZoneMaps.pruneFiles(man, "l_shipdate",
      java.time.LocalDateTime.parse("1996-01-01T00:00:00"),
      java.time.LocalDateTime.parse("1997-01-01T00:00:00"))
    assert(explicit.length < man.length)
    assert(scannedFiles(spark.sql(q)) == explicit.length)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_ts")
  }

  test("year(ts) and CAST(ts AS DATE) prune via their interval preimages") {
    val base = Files.createTempDirectory("graft_zmw_yr_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_yr",
      s"$sf/lineitem.parquet", out, Seq("l_shipdate"), Nil,
      nFiles = 6, manifestPath = Some(mf))
    val man = ZoneMaps.manifestRows(spark, out, Seq("l_shipdate"))
    tables.lineitem.createOrReplaceTempView("graft_zmw_yr_src")
    def both(pred: String): (Long, Long) = {
      val q = s"SELECT count(*) AS c FROM graft_zmw_yr WHERE $pred"
      val want = spark.sql(q.replace("graft_zmw_yr", "graft_zmw_yr_src"))
        .collect().head.getLong(0)
      val got = spark.sql(q).collect().head.getLong(0)
      assert(got == want, s"$pred: got $got want $want")
      (scannedFiles(spark.sql(q)), want)
    }
    // equality: the 1996 band overlaps a strict file subset
    val expl96 = ZoneMaps.pruneFiles(man, "l_shipdate",
      java.time.LocalDateTime.parse("1996-01-01T00:00:00"),
      java.time.LocalDateTime.parse("1997-01-01T00:00:00"))
    val (s1, w1) = both("year(l_shipdate) = 1996")
    assert(w1 > 0 && expl96.length < man.length && s1 == expl96.length)
    // range: >= 1998 keeps only the tail file(s)
    val (s2, _) = both("year(l_shipdate) >= 1998")
    assert(s2 < man.length)
    // literal-first orientation flips the operator, same preimage
    val (s2b, _) = both("1998 <= year(l_shipdate)")
    assert(s2b == s2)
    // cast-to-date equality: a one-day band
    val (s3, w3) = both("CAST(l_shipdate AS DATE) = DATE '1996-06-15'")
    assert(w3 > 0 && s3 < man.length)
    // a year outside every envelope scans nothing
    val (s4, w4) = both("year(l_shipdate) = 2050")
    assert(w4 == 0 && s4 == 0)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_yr")
  }

  test("q146 registered query: year-band prune matches naive, pruned flag true") {
    val got = SparkEntry.queries("q146_year_prune")(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("pruned")))
    val want = tables.lineitem.where(year(col("l_shipdate").cast("date")) === 1996)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("l_quantity")), 4) + lit(0.0)).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getAs[String]("l_returnflag"),
      r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"))).toSet == want)
  }

  // ---- persisted-consult route (blooms never on the driver) -----------------

  test("persisted-consult route: identical survivors, zero bloom bytes on the driver") {
    val base = Files.createTempDirectory("graft_zmw_pc_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    GraftSession.prepareTable(spark, "graft_zmw_pc",
      s"$sf/lineitem.parquet", out, Seq("l_partkey"), Nil,
      nFiles = 8, manifestPath = Some(mf), bloomCols = Seq("l_partkey"))
    val man = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
    val gmin = man.map(_.getAs[Long]("l_partkey_min")).min
    val gmax = man.map(_.getAs[Long]("l_partkey_max")).max
    val q = "SELECT count(*) AS c FROM graft_zmw_pc " +
      s"WHERE l_partkey IN ($gmin, $gmax)"
    val want = tables.lineitem
      .where(col("l_partkey").isin(gmin, gmax)).count()
    // default route: memo rows carry the blooms, probed driver-side
    val memoScan = scannedFiles(spark.sql(q))
    assert(spark.sql(q).collect().head.getLong(0) == want)
    assert(ZoneMaps.membershipSourceIfSeeded(spark, out, "l_partkey")
      .exists(_.isLeft))
    // flip: a fresh session opens the same table ABOVE the threshold —
    // the driver memo must hold envelopes only, the probe must serve
    // executor-side from the persisted manifest, survivors identical
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      ZoneMaps.forget(spark, out) // fresh-session simulation
      GraftSession.openTable(spark, "graft_zmw_pc", out, Seq("l_partkey"), mf)
      val rows = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
      assert(rows.length == man.length)
      assert(rows.forall(r =>
        !r.schema.fieldNames.exists(_.endsWith("_bloom"))),
        "the persisted route must keep bloom bytes OFF the driver memo")
      assert(ZoneMaps.membershipSourceIfSeeded(spark, out, "l_partkey")
        .exists(_.isRight), "membership must be seeded as the persisted path")
      val df = spark.sql(q)
      assert(df.collect().head.getLong(0) == want)
      assert(ridesIndex(df))
      assert(scannedFiles(spark.sql(q)) == memoScan,
        "memo and persisted routes must keep the identical survivor set")
    } finally spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
    spark.sql("DROP TABLE IF EXISTS graft_zmw_pc")
  }

  test("INSERT under the persisted-consult route folds the durable manifest; memo stays envelope-only") {
    val base = Files.createTempDirectory("graft_zmw_pcw_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      GraftSession.prepareTable(spark, "graft_zmw_pcw",
        s"$sf/lineitem.parquet", out, Seq("l_partkey"), Nil,
        nFiles = 8, manifestPath = Some(mf), bloomCols = Seq("l_partkey"))
      val filesBefore = spark.read.parquet(mf).count()
      val gmax = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
        .map(_.getAs[Long]("l_partkey_max")).max
      tables.lineitem.where(col("l_partkey") === gmax)
        .createOrReplaceTempView("graft_zmw_pcw_src")
      spark.sql("INSERT INTO graft_zmw_pcw " +
        "SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_pcw_src")
      // the DURABLE manifest folded forward (knows the inserted file)...
      assert(spark.read.parquet(mf).count() == filesBefore + 1)
      // ...bloom fields intact in the durable rows, absent from the memo
      assert(spark.read.parquet(mf).schema.fieldNames
        .contains("l_partkey_bloom"))
      val rows = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
      assert(rows.length == filesBefore + 1)
      assert(rows.forall(r =>
        !r.schema.fieldNames.exists(_.endsWith("_bloom"))))
      assert(ZoneMaps.membershipSourceIfSeeded(spark, out, "l_partkey")
        .exists(_.isRight))
      // the raw-SQL probe sees the doubled key EXACTLY and still prunes
      val want = 2 * tables.lineitem.where(col("l_partkey") === gmax).count()
      val df = spark.sql(
        s"SELECT count(*) AS c FROM graft_zmw_pcw WHERE l_partkey = $gmax")
      assert(df.collect().head.getLong(0) == want)
      assert(scannedFiles(spark.sql(
        s"SELECT count(*) AS c FROM graft_zmw_pcw WHERE l_partkey = $gmax"))
        < filesBefore + 1,
        "the maintained manifest must still prune after the fold")
    } finally spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
    spark.sql("DROP TABLE IF EXISTS graft_zmw_pcw")
  }

  // ---- commit-marker compaction ---------------------------------------------

  test("50 streamed batches keep O(1) commit objects; every batch stays replay-proof") {
    import graft.streaming.EventStreams
    val dir = Files.createTempDirectory("graft_zmw_ledger_").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val batch = spark.range(0, 10).toDF("id")
    (0L until 50L).foreach(EventStreams.idempotentBatchAppend(dir, batch, _))
    assert(spark.read.parquet(dir).count() == 500)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    // one ledger, zero (or one transient) marker files — never one per batch
    assert(names.count(_.startsWith("_graft_committed_b")) <= 1,
      s"markers must compact into the ledger, saw: ${names.mkString(", ")}")
    assert(names.contains("_graft_commits"))
    assert(EventStreams.committedBatchIds(fs, dir) == (0L until 50L).toSet)
    // replays of ledger-recorded (marker-less) batches land nothing
    EventStreams.idempotentBatchAppend(dir, batch.repartition(3), 0L)
    EventStreams.idempotentBatchAppend(dir, batch.repartition(3), 49L)
    assert(spark.read.parquet(dir).count() == 500)
  }

  test("compaction deletes only the snapshotted markers — a late marker survives") {
    import graft.streaming.EventStreams
    val dir = Files.createTempDirectory("graft_zmw_snap_").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def marker(id: Long) =
      new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b$id%06d")
    fs.createNewFile(marker(1)); fs.createNewFile(marker(2))
    val snapshot = EventStreams.committedBatchIds(fs, dir)
    assert(snapshot == Set(1L, 2L))
    // a concurrent writer lands its marker AFTER the snapshot was taken —
    // the old re-glob delete would erase batch 3's ONLY commit record and
    // a replay of it would append duplicate rows
    fs.createNewFile(marker(3))
    EventStreams.compactCommitMarkersOf(fs, dir, snapshot)
    assert(!fs.exists(marker(1)) && !fs.exists(marker(2)),
      "snapshotted markers fold into the ledger and are deleted")
    assert(fs.exists(marker(3)),
      "a marker landing after the snapshot must survive the delete")
    assert(EventStreams.committedBatchIds(fs, dir) == Set(1L, 2L, 3L))
  }

  test("a torn ledger tail never reads as a phantom smaller id") {
    import graft.streaming.EventStreams
    val dir = Files.createTempDirectory("graft_zmw_torn_").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val ledger = new org.apache.hadoop.fs.Path(dir, "_graft_commits")
    def writeLedger(txt: String): Unit = {
      val out = fs.create(ledger, true)
      try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // a crash mid-write tears the final line into a numeric PREFIX of the
    // real id (here '345' of a padded id): it must be REJECTED — trusting
    // it would mark batch 345 committed and a future batch 345 would be
    // silently skipped
    writeLedger(f"${12L}%020d\n" + "345")
    assert(EventStreams.committedBatchIds(fs, dir) == Set(12L))
    // legacy (unpadded) lines are still honored when newline-terminated
    writeLedger("7\n" + f"${9L}%020d\n")
    assert(EventStreams.committedBatchIds(fs, dir) == Set(7L, 9L))
    // an unterminated legacy line is indistinguishable from a tear: reject
    writeLedger("8")
    assert(EventStreams.committedBatchIds(fs, dir) == Set.empty[Long])
  }

  test("two ledger compactions crashing in a row lose no committed id") {
    import graft.streaming.EventStreams
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    // ids 1 and 2 commit and fold into the ledger (their markers go), id 3
    // commits; then compaction A crashes after its a-th filesystem step and
    // compaction B after its b-th. A delete-then-rename swap lost 1 and 2
    // at (a, b) = (2, 1): A died right after deleting the ledger, and B's
    // scratch create truncated the only other copy of them
    for (a <- 1 to 10; b <- 1 to 10) {
      val dir = Files.createTempDirectory("graft_zmw_crash2_").toString
      def commit(id: Long): Unit = assert(fs.createNewFile(
        new org.apache.hadoop.fs.Path(dir, f"_graft_committed_b$id%06d")))
      commit(1); commit(2)
      EventStreams.compactCommitMarkers(fs, dir)
      commit(3)
      Seq(a, b).foreach(k =>
        CrashingFs.crashed(k)(EventStreams.compactCommitMarkers(_, dir)))
      assert(EventStreams.committedBatchIds(fs, dir) == Set(1L, 2L, 3L),
        s"compaction crashes after steps $a then $b")
    }
  }

  // ---- fold swap atomicity & bloom sizing -----------------------------------

  test("fold swap is rename-aside: a reader mid-swap still resolves; the next fold self-heals") {
    val base = Files.createTempDirectory("graft_zmw_swap_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      GraftSession.prepareTable(spark, "graft_zmw_swap",
        s"$sf/lineitem.parquet", out, Seq("l_partkey"), Nil,
        nFiles = 4, manifestPath = Some(mf), bloomCols = Seq("l_partkey"))
      val nFiles = spark.read.parquet(mf).count()
      // simulate a fold crash BETWEEN the two swap renames: the manifest is
      // parked at its sibling, nothing at the primary path — the window the
      // old delete-then-rename swap left unreadable
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      val hp = new org.apache.hadoop.fs.Path(mf)
      val prev = new org.apache.hadoop.fs.Path(mf + "__fold_prev")
      assert(fs.rename(hp, prev))
      // a READER (a fresh query session opening the table) resolves the
      // parked manifest instead of failing hard
      ZoneMaps.forget(spark, out)
      GraftSession.openTable(spark, "graft_zmw_swap", out,
        Seq("l_partkey"), mf)
      val gmax = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
        .map(_.getAs[Long]("l_partkey_max")).max
      val df = spark.sql(
        s"SELECT count(*) AS c FROM graft_zmw_swap WHERE l_partkey = $gmax")
      assert(df.collect().head.getLong(0) ==
        tables.lineitem.where(col("l_partkey") === gmax).count())
      assert(ridesIndex(df))
      // the next WRITE path self-heals: the fold restores the primary path
      // first, folds forward, and leaves no parked sibling behind
      tables.lineitem.where(col("l_partkey") === gmax)
        .createOrReplaceTempView("graft_zmw_swap_src")
      spark.sql("INSERT INTO graft_zmw_swap " +
        "SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_swap_src")
      assert(fs.exists(hp), "the fold must restore the primary manifest path")
      assert(!fs.exists(prev),
        "the parked sibling is dropped once the fold completes")
      assert(spark.read.parquet(mf).count() == nFiles + 1)
    } finally {
      spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
      spark.sql("DROP TABLE IF EXISTS graft_zmw_swap")
    }
  }

  test("fold sizes fresh-file blooms to the standing manifest's width") {
    val base = Files.createTempDirectory("graft_zmw_bsz_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", out, 4)
      // a table built with 8× the fold's old hardcoded per-file key count
      ZoneMaps.writeManifest(spark, out, Seq("l_partkey"), mf,
        bloomCols = Seq("l_partkey"), expectedKeysPerFile = 1L << 16)
      val standingLen = spark.read.parquet(mf)
        .select(octet_length(col("l_partkey_bloom")).as("len"))
        .collect().map(_.getInt(0)).distinct
      assert(standingLen.length == 1)
      ZoneMaps.loadManifest(spark, out, Seq("l_partkey"), mf)
      ZoneMapFileIndex.enable(spark, out, Seq("l_partkey"),
        Seq("l_partkey"), Some(mf))
      GraftSession.ensureOptimizations(spark)
      GraftSession.ensureExternalTable(spark, "graft_zmw_bsz", out)
      val gmax = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
        .map(_.getAs[Long]("l_partkey_max")).max
      tables.lineitem.where(col("l_partkey") === gmax)
        .createOrReplaceTempView("graft_zmw_bsz_src")
      spark.sql("INSERT INTO graft_zmw_bsz " +
        "SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_bsz_src")
      // the folded manifest's FRESH row carries a bloom of the STANDING
      // width — the old fold aggregated it at the 2^13 default and silently
      // degraded its false-positive rate
      val lens = spark.read.parquet(mf)
        .select(octet_length(col("l_partkey_bloom")).as("len"))
        .collect().map(_.getInt(0)).distinct
      assert(lens.toSeq == standingLen.toSeq,
        s"fresh-file bloom width ${lens.mkString(",")} must match the " +
          s"standing manifest's ${standingLen.mkString(",")}")
    } finally {
      spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
      spark.sql("DROP TABLE IF EXISTS graft_zmw_bsz")
    }
  }

  test("fold sizes fresh-file blooms by default when the standing bloom is not V2") {
    val base = Files.createTempDirectory("graft_zmw_bv1_").toString
    val out = s"$base/t"; val mf = s"$base/m"
    spark.conf.set("spark.graft.zonemap.persistedConsultRows", "0")
    try {
      ZoneMaps.clusteredWrite(tables.lineitem, "l_partkey", out, 4)
      // the default-sized bloom width, from a manifest of the same layout
      ZoneMaps.writeManifest(spark, out, Seq("l_partkey"), s"$base/d",
        bloomCols = Seq("l_partkey"))
      def lens(m: String) = spark.read.parquet(m)
        .select(octet_length(col("l_partkey_bloom")).as("len"))
        .collect().map(_.getInt(0)).distinct.toSeq
      val defaultLen = lens(s"$base/d")
      // a standing manifest whose blooms carry a 12-byte (V1) header:
      // 8x-sized V2 blooms with 4 header bytes cut off
      ZoneMaps.writeManifest(spark, out, Seq("l_partkey"), s"$base/v2",
        bloomCols = Seq("l_partkey"), expectedKeysPerFile = 1L << 16)
      spark.read.parquet(s"$base/v2")
        .withColumn("l_partkey_bloom", expr("substring(l_partkey_bloom, 5)"))
        .coalesce(1).write.parquet(mf)
      val standingLen = lens(mf)
      assert(standingLen.length == 1 && (standingLen.head - 16) % 8 != 0)
      ZoneMaps.loadManifest(spark, out, Seq("l_partkey"), mf)
      ZoneMapFileIndex.enable(spark, out, Seq("l_partkey"),
        Seq("l_partkey"), Some(mf))
      GraftSession.ensureOptimizations(spark)
      GraftSession.ensureExternalTable(spark, "graft_zmw_bv1", out)
      val standingFiles = spark.read.parquet(mf).select("file")
        .collect().map(_.getString(0)).toSeq
      val gmax = ZoneMaps.manifestRows(spark, out, Seq("l_partkey"))
        .map(_.getAs[Long]("l_partkey_max")).max
      tables.lineitem.where(col("l_partkey") === gmax)
        .createOrReplaceTempView("graft_zmw_bv1_src")
      spark.sql("INSERT INTO graft_zmw_bv1 " +
        "SELECT /*+ REPARTITION(1) */ * FROM graft_zmw_bv1_src")
      val freshLen = spark.read.parquet(mf)
        .where(!col("file").isin(standingFiles: _*))
        .select(octet_length(col("l_partkey_bloom")))
        .collect().map(_.getInt(0)).toSeq
      assert(freshLen.length == 1 && freshLen == defaultLen,
        s"fresh-file bloom width ${freshLen.mkString(",")} must be the " +
          s"default ${defaultLen.mkString(",")}, not one sized off a " +
          s"${standingLen.mkString(",")}-byte non-V2 bloom")
    } finally {
      spark.conf.unset("spark.graft.zonemap.persistedConsultRows")
      spark.sql("DROP TABLE IF EXISTS graft_zmw_bv1")
    }
  }

  // ---- manifest-derived catalog stats ---------------------------------------

  test("prepareTable catalog stats fold from the manifest — ANALYZE parity, one scan fewer") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val base = Files.createTempDirectory("graft_zmw_stats_").toString
    def stats(n: String) = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(n)).stats.get
    // a Z-ordered integral pair and a range-clustered string column; the
    // reference table is the same directory under ANALYZE's full scan
    Seq(("zz", Seq("l_orderkey", "l_partkey")), ("str", Seq("l_returnflag")))
      .foreach { case (sub, zoneCols) =>
        val mfName = s"graft_zmw_stats_${sub}_mf"
        val anName = s"graft_zmw_stats_${sub}_an"
        GraftSession.prepareTable(spark, mfName, s"$sf/lineitem.parquet",
          s"$base/$sub/t", zoneCols, Nil,
          nFiles = 4, manifestPath = Some(s"$base/$sub/m"))
        GraftSession.analyzeForStats(spark, anName, s"$base/$sub/t", zoneCols)
        val m = stats(mfName); val a = stats(anName)
        assert(m.rowCount.contains(BigInt(tables.lineitem.count())))
        assert(m.rowCount == a.rowCount)
        zoneCols.foreach { c =>
          val cm = m.colStats(c); val ca = a.colStats(c)
          assert(cm.min == ca.min && cm.max == ca.max,
            s"$c min/max must fold to ANALYZE's exact values")
          assert(cm.nullCount == ca.nullCount)
          // NDV is the one stat the manifest cannot fold — documented absent
          assert(cm.distinctCount.isEmpty && ca.distinctCount.nonEmpty)
          // fixed-width lengths equal ANALYZE's; a string's are measured
          // by ANALYZE and left unset by the manifest, never guessed
          if (sub == "str")
            assert(cm.avgLen.isEmpty && cm.maxLen.isEmpty && ca.avgLen.nonEmpty,
              s"$c: variable-length avgLen/maxLen must stay unset")
          else assert(cm.avgLen == ca.avgLen && cm.maxLen == ca.maxLen)
        }
        // both routes plan with CBO stats and answer identically
        def q(n: String) = spark.sql(s"SELECT count(*) AS c, sum(l_quantity) " +
          s"AS s FROM $n WHERE l_orderkey <= 100").collect().toSeq
        assert(q(mfName) == q(anName))
        spark.sql(s"DROP TABLE IF EXISTS $mfName")
        spark.sql(s"DROP TABLE IF EXISTS $anName")
      }
  }

  // ---- per-dir stale-serve audit --------------------------------------------

  test("PlanLint.staleServedScans: the staled table reports, clean tables stay clean") {
    val base = Files.createTempDirectory("graft_zmw_audit_").toString
    val out1 = s"$base/one/t"; val out2 = s"$base/two/t"
    GraftSession.prepareTable(spark, "graft_zmw_audit1",
      s"$sf/orders.parquet", out1, Seq("o_orderkey"), Nil, nFiles = 4,
      manifestPath = Some(s"$base/one/m"))
    GraftSession.prepareTable(spark, "graft_zmw_audit2",
      s"$sf/orders.parquet", out2, Seq("o_orderkey"), Nil, nFiles = 4,
      manifestPath = Some(s"$base/two/m"))
    val man = ZoneMaps.manifestRows(spark, out1, Seq("o_orderkey"))
    val gmax = man.map(_.getAs[Long]("o_orderkey_max")).max
    val q1 = s"SELECT count(*) AS c FROM graft_zmw_audit1 " +
      s"WHERE o_orderkey > ${gmax - 50}"
    val q2 = s"SELECT count(*) AS c FROM graft_zmw_audit2 " +
      s"WHERE o_orderkey > ${gmax - 50}"
    val clean = spark.sql(q1); clean.collect()
    assert(graft.plans.PlanLint.staleServedScans(clean).isEmpty)
    // stale out1 behind the manifest's back (the oob-append fixture)
    val side = s"$base/side"
    tables.orders.where(col("o_orderkey") > gmax - 50).coalesce(1)
      .write.parquet(side)
    val part = new java.io.File(side).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(out1, "oob-" + part.getName))
    spark.catalog.refreshTable("graft_zmw_audit1")
    val staled = spark.sql(q1); staled.collect() // ticks the per-dir counter
    val findings = graft.plans.PlanLint.staleServedScans(staled)
    assert(findings.nonEmpty && findings.forall(_.rule == "stale-served-scan"),
      "a query over the staled table must report the per-dir stale serve")
    assert(findings.exists(_.detail.contains(out1)))
    // the OTHER prepared table's queries stay clean — the audit is
    // table-scoped, not the process-global counter
    val other = spark.sql(q2); other.collect()
    assert(graft.plans.PlanLint.staleServedScans(other).isEmpty)
    // the registered q144 insert-maintained table reports clean too (its
    // folds run inside the INSERT — listFiles never meets unknown files)
    val q144 = SparkEntry.queries("q144_insert_maintained")(spark, sf)
    q144.collect()
    assert(graft.plans.PlanLint.staleServedScans(q144).isEmpty)
    spark.sql("DROP TABLE IF EXISTS graft_zmw_audit1")
    spark.sql("DROP TABLE IF EXISTS graft_zmw_audit2")
  }
}
