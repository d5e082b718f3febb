package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these queries survive
  * a 100 TB scale-up must be visible in the plan, not assumed. */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Final (post-AQE) formatted plan: execute, then explain. */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // execute THIS plan so AQE finalizes it (count() builds a different one)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("s07: radius search is scan-local — queries broadcast, zero exchanges") {
    val p = plan("s07_radius_search")
    assert(p.contains("Broadcast"), "the query set must broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "radius matching must never shuffle the corpus")
  }

  test("p14: layout shuffles once — on the shard key only") {
    val df = SparkEntry.queries("p14_shuffle_layout")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected exactly the shard exchange:\n$p")
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("q46: filtered aggregates stay one two-phase hash aggregate") {
    val df = SparkEntry.queries("q46_filter_agg")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.toLowerCase.contains("partial_count"),
      "aggregate must partial-aggregate map-side")
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"per-aggregate FILTERs must not add exchanges:\n$p")
  }

  test("join strategy hints are honored: broadcast, shuffle_hash, merge") {
    // the per-join knob surface a 100 TB tuner reaches for when AQE's
    // size estimates misjudge a side — each hint must surface as its
    // physical operator
    import org.apache.spark.sql.functions.col
    val o = tables.orders.select(col("o_orderkey"), col("o_custkey"))
    val c = tables.customer.select(col("c_custkey"), col("c_name"))
    def planOf(hint: String): String = {
      val df = o.join(c.hint(hint), col("o_custkey") === col("c_custkey"))
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("q02: filters and column pruning reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_returnflag"), "scan should not read unused columns")
  }

  test("q03: dimension join is broadcast, not shuffled") {
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
  }

  test("q01: aggregation is two-phase (partial then final)") {
    assert(plan("q01_agg").toLowerCase.contains("partial_sum"))
  }

  test("q10: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("q10_topk").contains("TakeOrderedAndProject"))
  }

  test("q06: semi join does not duplicate probe rows (LeftSemi in plan)") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
  }

  test("bucketed tables join with no shuffle exchange (co-located join)") {
    import org.apache.spark.sql.functions.col
    // the 100 TB story for repeated fact-fact joins: bucket both sides on the
    // join key at write time, then the sort-merge join needs no exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def bucketed(df: org.apache.spark.sql.DataFrame, table: String, key: String): Unit =
        df.write.mode("overwrite").bucketBy(4, key).sortBy(key)
          .format("parquet").saveAsTable(table)
      bucketed(tables.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_orderkey")
      bucketed(tables.lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey")
      val j = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      assert(j.count() > 0)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), s"bucketed join still shuffles:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("partitioned tree: partition filters prune directories at the scan") {
    import org.apache.spark.sql.functions.{col, month}
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    tables.orders.withColumn("month", month(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("month") === 3)
    val prunedFiles = scannedFiles(pruned)
    // the month predicate must surface as a PartitionFilter (pruned at
    // listing time), not a data Filter evaluated per row after a full read
    val partitionFilters =
      fileScans(pruned.queryExecution.executedPlan).head.partitionFilters
    assert(partitionFilters.exists(_.toString.contains("month")),
      s"month predicate not a partition filter: $partitionFilters")
    val allFiles = scannedFiles(spark.read.parquet(dir))
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruning read $prunedFiles of $allFiles files")
    // pruned read returns exactly the month's rows
    assert(spark.read.parquet(dir).filter(col("month") === 3).count() ===
      tables.orders.filter(month(col("o_orderdate")) === 3).count())
  }

  test("sortWithinPartitions sorts locally with no exchange") {
    import org.apache.spark.sql.functions.{col, unix_timestamp}
    val df = tables.lineitem.select("l_orderkey", "l_shipdate")
      .repartition(4, col("l_orderkey"))
      .sortWithinPartitions(col("l_shipdate"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // exactly the repartition exchange — the sort adds none (no global range exchange)
    assert(!p.contains("rangepartitioning"), s"local sort must not range-shuffle:\n$p")
    // and each partition really is sorted
    val ok = df.select(unix_timestamp(col("l_shipdate").cast("timestamp"))).rdd
      .mapPartitions { it =>
        val ts = it.map(_.getLong(0)).toSeq
        Iterator(ts.zip(ts.drop(1)).forall { case (a, b) => a <= b })
      }.collect()
    assert(ok.forall(identity))
  }

  test("s02 IVF: cell assignment is map-side — no exchange between scan and cell join") {
    import org.apache.spark.sql.functions.col
    val df = similarity.Knn.ivf(tables.embeddings)
    df.collect()
    // AQE's toString prints Final AND Initial plans — count only the final
    val p = SparkTestSession.finalPlan(df)
    // the only exchanges: the probe-set broadcast and the final top-k agg —
    // the corpus side streams scan → argmin-project → broadcast join with
    // no hash repartitioning before the aggregation
    assert(p.contains("BroadcastExchange"), s"probe set must broadcast:\n$p")
    val corpusShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(corpusShuffles <= 1, s"IVF must shuffle only for the final top-k agg:\n$p")
  }

  test("dedup family plans are bucketed, never all-pairs") {
    // d01–d04/d06 must join on hash/band/bucket/cell keys — any cartesian or
    // nested-loop join means an all-pairs explosion at 100 TB. (d05/s01 are
    // *declared* exact baselines with broadcast/block-NL shapes; excluded.)
    Seq("d01_dedup_exact", "d02_ngram_jaccard", "d03_minhash_lsh", "d04_simhash",
        "d06_embedding_dup_ivf").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join:\n$p")
    }
  }

  test("t05: repetition signals are scan-local — zero exchanges") {
    val df = SparkEntry.queries("t05_repetition")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // roundrobin widening of a narrow local scan is allowed (Tables.widen);
    // the scale property is NO KEYED redistribution of the corpus
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"t05 must not shuffle on a key:\n$p")
  }

  test("s04: quantized kNN keeps s01's shape — corpus unshuffled, queries broadcast") {
    val df = SparkEntry.queries("s04_knn_quantized")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"query set must broadcast:\n$p")
    // dequantize is a projection over the scan; the only hash exchange is the
    // final top-k aggregation (TopKAgg partials clip per-partition first)
    val corpusShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(corpusShuffles <= 1, s"s04 must shuffle only for the top-k agg:\n$p")
  }

  test("whole-stage codegen covers the relational hot paths") {
    // codegen shows as "*(n)" stage markers in the executed plan string
    Seq("q01_agg", "q02_filter_project", "q15_strings", "t01_token_stats").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("*("), s"$q fell out of codegen:\n$s")
    }
  }

  test("s16: routing is scan-local — zero exchanges, inside codegen") {
    val df = SparkEntry.queries("s16_route")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"the data-independent router must never shuffle:\n$p")
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "the K dot products must stay in whole-stage codegen")
  }

  test("q70: interval union reuses ONE user_id exchange across both window passes and the rollup") {
    val df = SparkEntry.queries("q70_interval_union")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected exactly the user_id exchange:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("p30: the grid joins a bucket AGGREGATE, never the corpus") {
    val df = SparkEntry.queries("p30_gate_ablation")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // the docs scan must flow into an aggregate BEFORE any join with the
    // grid: a grid × corpus join would show the range condition applied
    // to a scan-fed BNLJ over document rows. The bucket pre-aggregation
    // bounds the join input at |langs| × |buckets| regardless of corpus.
    val lines = p.split("\n")
    val joinLine = lines.indexWhere(l => l.contains("Join") && l.contains("bucket"))
    assert(joinLine >= 0, s"bucket range join missing:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q72: sampling predicate evaluates before the aggregate (sample-sized exchange)") {
    val df = SparkEntry.queries("q72_hash_sample")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // the md5 membership filter must sit below the partial aggregate, so
    // the exchange carries ~n/m rows; a post-aggregate filter would ship
    // every row
    val filterIdx = p.split("\n").indexWhere(l => l.contains("Filter") && l.contains("pmod"))
    assert(filterIdx >= 0, s"membership filter missing from the plan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q76/p35: URL parsing and soft sampling are scan-local — zero hash exchanges") {
    for (name <- Seq("q76_url_parse", "p35_soft_sample")) {
      val p = plan(name)
      // the only exchange allowed is Tables' round-robin scan-parallelism
      // fan-out (single-row-group testdata files); the operators themselves
      // must never key-shuffle
      assert(!p.contains("Exchange hashpartitioning"), s"$name must not shuffle:\n$p")
      assert(p.contains("[codegen id :"), s"$name fell out of codegen:\n$p")
    }
  }

  test("q94: the banded echo self-join never plans a cartesian/nested loop") {
    val df = SparkEntry.queries("q94_rapid_repeats")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("CartesianProduct"), s"q94 plans a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q94 plans a nested-loop join:\n$p")
  }

  test("q90/q92: plan-borne scalar bounds — construction launches zero jobs") {
    val t = Tables(spark, sf)
    t.orders.schema // relation creation (schema read) outside the probe
    val sc = spark.sparkContext
    sc.setJobGroup("r5-construct", "construction probe")
    val d1 = graft.operators.Relational5.q90Histogram(t)
    val d2 = graft.operators.Relational5.q92Rfm(t)
    sc.setJobGroup("r5-marker", "construction probe marker")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup("r5-marker").isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("r5-marker").nonEmpty,
      "marker job never observed")
    assert(sc.statusTracker.getJobIdsForGroup("r5-construct").isEmpty,
      "constructing q90/q92 must launch zero jobs")
    assert(d1.count() === 20L && d2.count() > 0L)
  }

  test("s22: graph expansion joins broadcast the frontier, never shuffle the edge list") {
    graft.Memo.release(spark)
    // production `search` localCheckpoints per hop (lineage truncation),
    // which hides the joins from the final plan; the no-truncate walk is
    // spec-pinned result-identical and keeps every hop in ONE plan
    val df = graft.similarity.GraphSearch.walkNoTruncate(
      Tables(spark, sf).embeddings, "vec_id < 10", k = 5, beam = 8, iters = 2)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"frontier/candidate joins must broadcast:\n$p")
    // the only hash exchanges allowed are the per-query top-k aggregations
    // (query_id-keyed, |Q|·beam-sized); the n·graphK edge list and the
    // corpus lookup must never be the shuffled side of an expansion join
    val badExchange = p.split("\n").exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("(src") || l.contains("(dst") || l.contains("(vec_id")))
    assert(!badExchange, s"an expansion join shuffled the edge/vector side:\n$p")
    graft.Memo.release(spark)
  }

  test("q108/q112: plan-borne anchors — construction launches zero jobs") {
    val t = Tables(spark, sf)
    t.events.schema
    val sc = spark.sparkContext
    sc.setJobGroup("r8-construct", "construction probe")
    val d1 = graft.operators.Relational5.q108Recency(t)
    val d2 = graft.operators.Relational5.q112AbTest(t)
    sc.setJobGroup("r8-marker", "construction probe marker")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup("r8-marker").isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("r8-marker").nonEmpty,
      "marker job never observed")
    assert(sc.statusTracker.getJobIdsForGroup("r8-construct").isEmpty,
      "constructing q108/q112 must launch zero jobs")
    assert(d1.count() > 0L && d2.count() === 1L)
  }

  test("q114: partial-agg exchange + ONE part exchange shared by all windows") {
    val df = SparkEntry.queries("q114_clamped_balance")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // exactly two: the (part, day) aggregation exchange (carrying partial
    // sums, not raw lineitems) and ONE l_partkey exchange that all three
    // window passes and the final rollup share — a per-window exchange
    // would show 4+
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.length === 2, s"expected agg + one shared window exchange:\n$p")
    assert(exchanges.count(l => l.contains("l_partkey") && l.contains("day")) === 1, p)
    assert(p.contains("partial_sum"), "daily deltas must partial-aggregate map-side")
  }

  test("t34: unigram count joins broadcast the vocab side, never sort-merge") {
    val df = SparkEntry.queries("t34_collocations")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2,
      s"both unigram joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no vocab join may shuffle both sides:\n$p")
  }
}
