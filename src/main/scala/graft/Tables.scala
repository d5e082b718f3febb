package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the test-data star schema.
  *
  * Mirrors the reference's input model — a named list of files mapped to a
  * local alias (`common/.../InputInfo.java:16-67`, CLI `hdfsPath#alias`,
  * `AM/ApplicationMaster.java:841-845`) — as Spark temp views: the alias is
  * the view name, the file list is whatever the glob expands to.
  *
  * Scans are plain `spark.read.parquet`, so Catalyst predicate pushdown and
  * column pruning reach the parquet reader for free; at 100 TB the same code
  * reads a partitioned directory tree with partition pruning.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    // memoized per (session, dir, name): constructing the relation reads
    // parquet footers for schema, and every query call builds a fresh
    // Tables — without the memo each invocation re-pays footer I/O per
    // table touched (and registerViews pays it ×10). The relation's file
    // listing is frozen when it is built, so each entry carries the
    // (path, size, mtime) listing [[Memo]] fingerprints, checked by one
    // listStatus per call: a file appended or rewritten under the table
    // rebuilds the relation (and so every Memo entry over it).
    // SessionCaches reclaims the entries when the session's application
    // ends.
    val files = Tables.listing(spark, s"$dir/$name.parquet")
    Tables.relCache.peek(spark, (dir, name)) match {
      case Some((seen, df)) if seen == files => df
      case _ =>
        val df = load(name)
        Tables.relCache.put(spark, (dir, name), (files, df))
        df
    }
  }

  private def load(name: String): DataFrame = {
    val df = widen(name, spark.read.parquet(s"$dir/$name.parquet"))
    // events.ts has shipped in two physical forms across testdata
    // generations; normalize both to session-zoned TIMESTAMP (micros):
    //   - parquet TIMESTAMP(NANOS): read as long nanos
    //     (spark.sql.legacy.parquet.nanosAsLong=true) and floor to micros —
    //     floor, not DIV (truncate-toward-zero), so pre-1970 nanos round the
    //     same way DuckDB's micro-precision TIMESTAMP read does.
    //     Integer-exact: pmod(ts,1000) is the non-negative remainder, so the
    //     subtraction lands on the floor multiple.
    //   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): inferred as
    //     TIMESTAMP_NTZ; the session TZ is pinned to UTC (GraftSession), so
    //     the cast to TimestampType is value-identical and keeps every
    //     downstream query's type expectations unchanged.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) DIV 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  /** Round-robin the fact tables up to the session's shuffle width when the
    * scan is narrower. Parquet scans can't split below row-group boundaries,
    * and the driver's testdata ships ONE row group per file — so without
    * this, every scan-stage computation (tokenize, minhash signatures,
    * vector math, per-candidate edit verify under a broadcast join) pins to
    * a single core regardless of `local[32]`. At real scale the input
    * carries many files/row groups, the scan is already wider than the
    * shuffle width, and NO exchange is added — the widening is a local-mode
    * small-input adaptation, not a design change. Dimension tables stay
    * as-read: they broadcast, and an exchange below a BroadcastExchange is
    * pure overhead. Plan-shape specs assert the scale property as "no
    * hash/range exchange" (no KEYED redistribution of the corpus); a
    * round-robin exchange is permitted by exactly this rule.
    *
    * Measured (round 9, sf0.1, idle): the single-row-group layout costs the
    * shared pair frames ~1–2.5 s each vs round 7's naturally-wide testdata —
    * the whole ≥2× "shared-entry drift" in BENCH_r08. Attribution run:
    * jaccard pairs 9.5 s over the raw 1-partition scan, 2.0–3.0 s widened
    * (this pass), 1.13 s on r7's multi-row-group files; the residual delta
    * is the unsplittable single-threaded text-column decode + the 0.6 s
    * round-robin shuffle itself — data layout, not plan regression. */
  private def widen(name: String, df: DataFrame): DataFrame =
    if (!Tables.factTables(name)) df
    else {
      val parts = spark.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions < parts) df.repartition(parts) else df
    }

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def events: DataFrame     = table("events")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view (alias → files, like the reference's
    * `hdfsGlob#alias`). Enables the `spark.sql(...)` surface. Idempotent per
    * (session, dir): a view is re-registered only when the session's views
    * point at a different dir or its relation was rebuilt. */
  def registerViews(): Unit = {
    val rels = Tables.names.map(table)
    val prev = Tables.lastViews.put(spark, (), (dir, rels))
    Tables.names.zip(rels).zipWithIndex.foreach { case ((n, df), i) =>
      if (!prev.exists { case (d, dfs) => d == dir && (dfs(i) eq df) })
        df.createOrReplaceTempView(n)
    }
  }
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose scan-stage work is worth parallelizing (see [[Tables.widen]]):
    * documents (tokenize / shingle / minhash / edit verify) and embeddings
    * (vector kernels) carry real per-row compute in the scan stage. The
    * relational fact tables (lineitem/orders/events) are deliberately NOT
    * widened: their queries shuffle on keys almost immediately, so the extra
    * round-robin pass is pure cost (measured ~2× on q03/q12/q35 at sf0.1),
    * while their scan-stage work (projection + partial agg) is cheap enough
    * single-threaded. Dimensions broadcast — widening them is overhead. */
  private val factTables: Set[String] =
    Set("documents", "embeddings")

  private type Listing = Set[(String, Long, Long)]

  private val relCache = new SessionKeyedCache[(String, String), (Listing, DataFrame)]()
  private val lastViews = new SessionKeyedCache[Unit, (String, Seq[DataFrame])]()

  /** The visible files at `path` (a file, or a directory's direct
    * children without `_`/`.` names) as (path, size, mtime); empty when
    * the path does not exist, so the load reports it. */
  private def listing(spark: SparkSession, path: String): Listing = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filterNot(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
  }
}
