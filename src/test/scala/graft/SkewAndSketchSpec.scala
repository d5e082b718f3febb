package graft

import graft.operators.SkewOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-salting equivalence + the approximate-aggregate (sketch) toolkit
  * that replaces exact global distincts at 100 TB. */
class SkewAndSketchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("salted join returns exactly the rows of the plain join") {
    val big = tables.lineitem.select("l_orderkey", "l_suppkey", "l_quantity")
    val small = tables.supplier.select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val plain = big.join(small, "l_suppkey")
    val salted = SkewOps.saltedJoin(big, small, "l_suppkey", n = 8)
    assert(salted.count() === plain.count())
    val a = plain.groupBy("l_suppkey").count().collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val b = salted.groupBy("l_suppkey").count().collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("skew stress: a 50%-hot key actually fans out across salt buckets") {
    // the property the correctness test can't see: under a pathological
    // key distribution (one key = half the table) the payload-derived
    // salt must REALIZE the fan-out — land the hot key's rows in many
    // distinct (key, salt) groups — or the operator silently degenerates
    // to the unsalted hot partition at 100 TB
    import spark.implicits._
    val n = 8
    val hot = 7L
    val big = spark.range(0, 200000, 1, 16).select(
      when(col("id") % 2 === 0, lit(hot)).otherwise(col("id") % 1000)
        .as("k"),
      col("id").as("payload"))
    val small = (0L until 1000L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val joined = SkewOps.saltedJoin(big, small, "k", n = n)
    // exactness under stress
    assert(joined.count() === big.join(small, "k").count())
    // fan-out realized: the hot key's rows spread over (almost) all salts
    val salts = big
      .withColumn("_s", pmod(xxhash64(col("k"), col("payload")), lit(n.toLong)))
      .where(col("k") === hot)
      .select(countDistinct(col("_s"))).head.getLong(0)
    assert(salts >= n - 1, s"hot key landed in only $salts/$n salt buckets")
    // balance realized: after grouping by (key, salt) no group holds more
    // than ~1/n of the hot key's mass (each group is one reducer's work)
    val hotTotal = big.where(col("k") === hot).count().toDouble
    val maxGroup = big
      .withColumn("_s", pmod(xxhash64(col("k"), col("payload")), lit(n.toLong)))
      .where(col("k") === hot)
      .groupBy("_s").count().agg(max("count")).head.getLong(0).toDouble
    assert(maxGroup / hotTotal < 2.0 / n,
      f"largest salted slice holds ${maxGroup / hotTotal}%.2f of the hot key")
  }

  test("skew stress: AQE splits the skewed side of a shuffle join") {
    // first line of defense (GraftSession turns it on): verify the AQE
    // skew-join path actually FIRES on a skewed exchange, with thresholds
    // scaled down to test-data sizes the way a 100 TB run would keep the
    // 256 MB defaults
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val big = spark.range(0, 400000, 1, 16).select(
        when(col("id") % 4 =!= 0, lit(1L)).otherwise(col("id") % 5000).as("k"),
        concat(lit("x"), col("id")).as("pad"))
      val dim = (0L until 5000L).map(k => (k, s"d_$k")).toDF("k", "v")
      val joined = big.join(dim, Seq("k"))
      // execute THIS df's own queryExecution (count() would wrap it in a
      // fresh one and the inspected plan would stay isFinalPlan=false)
      joined.queryExecution.toRdd.count()
      val plan = finalPlan(joined)
      assert(plan.contains("isSkewJoin=true") || plan.contains("skew=true"),
        s"AQE skew split did not fire:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join rejects a big side with provably constant per-key salt") {
    val big = tables.lineitem.select("l_suppkey")
    val small = tables.supplier.select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val e = intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(big, small, "l_suppkey", n = 8)
    }
    assert(e.getMessage.contains("saltExpr"))
    // the same shape with an explicit unique-column salt is accepted
    val withSalt = SkewOps.saltedJoin(
      tables.lineitem.select("l_suppkey", "l_orderkey"), small, "l_suppkey", n = 8,
      saltExpr = Some(xxhash64(col("l_orderkey"))))
    assert(withSalt.count() ===
      tables.lineitem.select("l_suppkey", "l_orderkey").join(small, "l_suppkey").count())
  }

  test("approx_percentile tracks exact percentile within accuracy bound") {
    val r = tables.lineitem.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx")).collect()(0)
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) / r.getDouble(0) < 0.02)
  }

  test("count_min_sketch estimates frequencies within epsilon") {
    val sketch = tables.lineitem.select(col("l_returnflag"))
      .stat.countMinSketch("l_returnflag", eps = 0.001, confidence = 0.99, seed = 42)
    val exact = tables.lineitem.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    exact.foreach { case (k, n) =>
      val est = sketch.estimateCount(k)
      assert(est >= n && est <= n + (0.001 * total).toLong + 1, s"$k: est=$est exact=$n")
    }
  }
}
