package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup

/** Fifth relational batch: activity streaks (gaps-and-islands), decile
  * reports, weighted medians, Pareto frontiers, ordered-path pattern
  * counts, last-touch attribution and equi-width histograms — the
  * sessionized-analytics shapes the reference's users run downstream of
  * its training jobs (ref `common/src/main/java/net/qihoo/hbox/conf/
  * HboxConfiguration.java` exposes only storage knobs; every analytical
  * semantic here is new engine surface, expressed Spark-first).
  *
  * All queries follow the exactness discipline: money integerizes to
  * cents BEFORE arithmetic, timeline order is total ((ts, event_id)),
  * every emitted double is one rounded division (`round(_, 6) + 0.0`),
  * and window partitions ride natural keys (user, flag, priority) so no
  * single-partition global sort appears in any plan.
  */
object Relational5 {

  /** q84: activity streaks — per user the gaps-and-islands rollup of the
    * days they were active: total active days, number of distinct
    * consecutive-day runs, and the longest run. THE classic retention
    * shape ("longest streak") and the canonical island trick: on the
    * distinct day list, `day - row_number()` is constant within a
    * consecutive run, so one per-user window pass + two aggregations
    * resolve every streak with no self-join. Exact longs only.
    *
    * Scale: the distinct-day frame is |users| × |active days| — already
    * tiny relative to events — and every exchange is keyed by user_id;
    * the window partitions by user, so parallelism is user-bounded, never
    * global. */
  def q84Streaks(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** q85: decile report — orders bucketed into price deciles WITHIN each
    * order priority, with per-decile count and exact cents min/max/sum.
    * The standard distribution-table shape for dashboards.
    *
    * Scale form (round-8 fix): NOT ntile over the raw fact rows — that
    * window partitions by a 5-value key, a ≤5-way parallelism ceiling at
    * 100×. Instead the rows partial-aggregate to the (priority, cents)
    * HISTOGRAM first (one map-side-combined exchange), the running count
    * over that price-cardinality-bounded table assigns each cents group
    * its global position range, and closed-form integer arithmetic maps
    * positions to deciles under the exact ntile remainder rule (first
    * n mod 10 buckets take one extra row). A group straddling a boundary
    * explodes into the ≤10 deciles it overlaps with its exact overlap
    * count — per-decile (n, min, max, sum) are then identical to the
    * row-level ntile's bucket for bucket (ties inside a cents group are
    * interchangeable: every member contributes the same cents). The only
    * window input left is the histogram. All arithmetic is exact: integer
    * division renders as (a − a mod b)/b, whose quotient is an integer
    * < 2^53 and therefore IEEE-exact. */
  def q85Deciles(t: Tables): DataFrame = {
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    def cdiv(a: Column, b: Column): Column = idiv(a + b - lit(1L), b)
    val hist = t.orders
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("o_orderpriority"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wRun = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("o_orderpriority"))
    val rows = hist
      .withColumn("cum", sum(col("cnt")).over(wRun))
      .withColumn("ntot", sum(col("cnt")).over(wAll))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("qq", idiv(col("ntot"), lit(10L)))
      .withColumn("rr", pmod(col("ntot"), lit(10L)))
    // ntile bucket of 1-based position p: the first rr buckets hold qq+1
    // rows, the rest qq (guard qq=0: then p <= rr always, else unreachable)
    def decileOf(p: Column): Column =
      when(p <= col("rr") * (col("qq") + 1), cdiv(p, col("qq") + 1))
        .otherwise(col("rr") +
          cdiv(p - col("rr") * (col("qq") + 1), greatest(col("qq"), lit(1L))))
    rows
      .withColumn("decile",
        explode(sequence(decileOf(col("prev") + 1), decileOf(col("cum")))))
      .withColumn("sd",
        (col("decile") - 1) * col("qq") + least(col("decile") - 1, col("rr")) + 1)
      .withColumn("ed",
        col("decile") * col("qq") + least(col("decile"), col("rr")))
      .withColumn("k",
        least(col("cum"), col("ed")) - greatest(col("prev") + 1, col("sd")) + 1)
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(sum(col("k")).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents") * col("k")).as("sum_cents"))
  }

  /** q86: weighted median — per return flag, the quantity-weighted median
    * of lineitem extended price: the smallest price whose cumulative
    * weight reaches half the total (the lower weighted median, the data-
    * mixing statistic p08/p36-style samplers balance against).
    *
    * Scale form (round-8 fix): the fact rows partial-aggregate to the
    * (flag, cents) → Σqty HISTOGRAM before any window touches them — the
    * running-weight window's input drops from |lineitem| to the distinct
    * prices per flag (price-cardinality-bounded, independent of row
    * count), so the ≤3-way window partitioning no longer caps
    * parallelism: the heavy exchange is the map-side-combined hash
    * aggregate. The answer is identical to the row-level form: within a
    * cents group the cumulative weight peaks at the group's last row, so
    * the smallest qualifying cents is unchanged by pre-grouping. All
    * integer arithmetic; no doubles anywhere. */
  def q86WeightedMedian(t: Tables): DataFrame = {
    val hist = t.lineitem.select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        round(col("l_quantity"), 0).cast("long").as("qty"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(sum(col("qty")).as("w"))
    // r15 measured note: a bucket-parallel prefix-scan variant was tried
    // (the #flags-partition window caps parallelism at ≤4) and REVERTED —
    // at bench scale the histogram is price-cardinality-bounded and the
    // plain window costs ~0.2 s, while the scan's extra offsets pass +
    // join cost ~+0.4 s. The window input is already the pre-aggregated
    // histogram, so the corpus never hits the window.
    val wRun = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_returnflag"))
    hist
      .withColumn("cum", sum(col("w")).over(wRun))
      .withColumn("tot", sum(col("w")).over(wAll))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("tot")).as("total_qty"),
        min(col("cents")).as("wmedian_cents"))
  }

  /** q87: Pareto frontier — per order priority, the orders no other order
    * dominates on (newer order date, lower price): the skyline operator
    * (Börzsönyi et al. 2001) in its 2-D O(n log n) window form. Sorted by
    * (day DESC, cents ASC), a point survives iff its price is strictly
    * below the running minimum over all EARLIER rows — every earlier row
    * is newer (or same-day-cheaper), so `cents < runmin` is exactly
    * non-domination; no quadratic NOT EXISTS self-join anywhere. Distinct
    * (priority, day, cents) points make the frontier well-defined under
    * the strict-in-one domination rule. */
  def q87Skyline(t: Tables): DataFrame = {
    // Scale form (round-8 fix): only a day's cheapest point can survive
    // the skyline (any same-day point above the day minimum is dominated
    // by it under the (day DESC, cents ASC) running-min rule), so the
    // rows partial-aggregate to per-(priority, day) min-cents BEFORE the
    // window — its input is day-cardinality-bounded, not |orders|, and
    // the heavy exchange is the map-side-combined hash aggregate.
    val dayMin = t.orders
      .select(col("o_orderpriority"),
        col("o_orderdate").cast("date").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("o_orderpriority"), col("day"))
      .agg(min(col("cents")).as("cents"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    dayMin
      .withColumn("runmin", min(col("cents")).over(w))
      .where(col("runmin").isNull || col("cents") < col("runmin"))
      .select(col("o_orderpriority"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("cents"))
  }

  /** q88: conversion-path pattern count — each user's timeline rendered as
    * a string of event-type initials in total ((ts, event_id)) order, then
    * the number of view→clicks*→purchase paths counted by one regexp scan:
    * the poor man's MATCH_RECOGNIZE, and the shape sequence-pattern
    * mining reduces to once the alphabet is small. The pattern
    * `v[c]*p` is unambiguous (match end = first 'p' after the click run),
    * so Java regex and RE2 agree on every count. Ordered aggregation per
    * user (the q64 array_sort-over-struct discipline) — one exchange. */
  def q88PathPattern(t: Tables): DataFrame = {
    val seq = t.events
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("c")))),
          x => x.getField("c")), "").as("seq"))
    seq.select(col("user_id"),
      length(col("seq")).as("seq_len"),
      regexp_count(col("seq"), lit("v[c]*p")).as("n_paths"))
  }

  /** q89: last-touch attribution — for every purchase, the event type
    * immediately preceding it in the user's timeline, rolled up to
    * (previous type → purchases, mean gap): the marketing-attribution
    * staple and the inverse of q83's transition matrix (q83 asks "what
    * follows X"; q89 asks "what precedes a conversion"). One lag() pass
    * over the user-keyed window, gaps in exact microseconds, the mean is
    * the one rounded division. First-event purchases attribute to
    * '(none)'. */
  def q89Attribution(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .where(col("event_type") === "purchase")
      .select(coalesce(col("prev_type"), lit("(none)")).as("touch"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        (round(sum(col("gap_us")).cast("double") /
          count(col("gap_us")).cast("double"), 6) + lit(0.0)).as("mean_gap_us"))
  }

  /** q90: equi-width histogram — order prices in 20 equal-width bins over
    * the observed [min, max] cents range, empty bins kept (a histogram
    * with silent holes misleads): bounds ride the plan as a 1-row
    * aggregate crossJoin (the q33 scalar-subquery shape — constructing
    * this DataFrame launches ZERO jobs), the bin index is pure integer
    * arithmetic ((c-lo)·20 div (hi-lo+1), exact in both engines, top
    * value lands in bin 19 by construction), and the empty-bin fill is a
    * generated 20-row sequence left-joined against the counts. */
  def q90Histogram(t: Tables): DataFrame = {
    val cents = t.orders
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val bounds = cents.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    val counts = cents.crossJoin(bounds)
      .select(expr("(c - lo) * 20 div (hi - lo + 1)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    bounds
      .select(explode(sequence(lit(0L), lit(19L))).as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("n"))
  }

  /** q91: linear (multi-touch) attribution — every non-purchase event
    * between two purchases shares one conversion's credit equally, and
    * the per-type totals say which behaviors actually precede buying
    * (q89 credits only the LAST touch; linear is the other standard
    * model). Group identity is the running purchase count over the
    * user's total-ordered timeline — one window pass, one keyed
    * aggregation chain.
    *
    * Exactness is the load-bearing choice: fractional credits (1/n per
    * touch) would sum in engine-specific order and drift in the last
    * ulp, so credit is integerized to MICRO-CREDITS — each touch in an
    * n-touch group carries exactly `1e6 div n` (the documented floor;
    * a group's credit is ≤ 1e6 by up to n−1 micro-units) — and every
    * aggregate is an exact long. */
  def q91LinearAttribution(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = t.events
      .withColumn("conv_id",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w), lit(0L)))
    val touches = grouped.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("conv_id"), col("event_type"))
    // groups that actually END in a purchase (credit flows only to those)
    val converted = grouped.where(col("event_type") === "purchase")
      .select(col("user_id"), col("conv_id")).distinct()
    val sized = touches.join(converted, Seq("user_id", "conv_id"))
      .groupBy(col("user_id"), col("conv_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_group",
        sum(col("cnt")).over(Window.partitionBy(col("user_id"), col("conv_id"))))
    sized
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_touches"),
        sum(col("cnt") * expr("1000000 div n_group")).as("credit_micro"))
  }

  /** q113: position-based (U-shaped) attribution — the third member of
    * the attribution family: q89 credits the LAST touch, q91 spreads
    * evenly, q113 applies the standard 40/20/40 rule (first touch 40 %,
    * last touch 40 %, middles share 20 %) — the model marketing uses
    * when discovery and closing both matter. Degenerate groups follow
    * the convention: a single touch takes 100 %, a pair splits 50/50.
    *
    * Exactness: credit is integer ppm of a conversion — the middle share
    * is 200000 div (n−2) with the remainder deliberately dropped (both
    * engines truncate identically; conservation up to the declared
    * integer remainder is spec-pinned). Scale shape: q91's conversion-
    * group machinery (one user-keyed window pass), position flags from
    * two more row_numbers over the SAME partitioning (no extra
    * exchange), rollup by touch type. */
  def q113PositionAttribution(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = t.events
      .withColumn("conv_id",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w), lit(0L)))
    val touches = grouped.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("conv_id"), col("event_type"),
        col("ts"), col("event_id"))
    val converted = grouped.where(col("event_type") === "purchase")
      .select(col("user_id"), col("conv_id")).distinct()
    val g = Window.partitionBy(col("user_id"), col("conv_id"))
    val credited = touches.join(converted, Seq("user_id", "conv_id"))
      .withColumn("pos", row_number().over(g.orderBy(col("ts"), col("event_id"))))
      .withColumn("rpos", row_number().over(g.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_group", count(lit(1)).over(g))
      .withColumn("credit", expr(
        """CASE WHEN n_group = 1 THEN 1000000L
          |     WHEN n_group = 2 THEN 500000L
          |     WHEN pos = 1 OR rpos = 1 THEN 400000L
          |     ELSE 200000 div (n_group - 2) END""".stripMargin))
    credited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("pos") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rpos") === 1, 1L).otherwise(0L)).as("n_last"),
        sum(col("credit")).as("credit_micro"))
  }

  /** q114: clamped inventory balance — per part, replay daily net
    * movements (returns restock, shipments draw down) through a
    * floor-at-zero balance: the stock-ledger semantics where demand
    * against an empty shelf is LOST (a shortfall), not borrowed. The
    * naive form is sequential (each day's balance depends on the clamped
    * previous one — the q110 iterative class), but the zero-floor clamp
    * has a closed form: with P_t the plain prefix sum,
    * bal_t = P_t − min(0, min_{j≤t} P_j), total shortfall =
    * −min(0, min_j P_j), and a stockout happens exactly where P_t drops
    * below the pre-t running floor. That identity turns the whole
    * operator into three window passes over ONE part-keyed sort — the
    * reason this ships as a window plan while q110 (whose keep-rule
    * is not prefix-decomposable) needs the fold.
    *
    * Exactness: quantities are integral doubles integerized once; every
    * derived value is long arithmetic. Sequential-replay equality is
    * spec-pinned against the naive JVM fold. Scale shape: movements
    * partial-aggregate to (part, day) before the one exchange; windows
    * share the single sort; output ∝ parts. */
  def q114ClampedBalance(t: Tables): DataFrame = {
    val daily = t.lineitem
      .select(col("l_partkey"), col("l_shipdate").cast("date").as("day"),
        (when(col("l_returnflag") === "R", expr("CAST(l_quantity AS BIGINT)"))
          .otherwise(-expr("CAST(l_quantity AS BIGINT)"))).as("delta"))
      .groupBy(col("l_partkey"), col("day")).agg(sum(col("delta")).as("delta"))
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("day"))
    val run = daily
      .withColumn("p", sum(col("delta")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("floor_all", least(
        min(col("p")).over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
      .withColumn("floor_prev", least(coalesce(
        min(col("p")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)), lit(0L)))
    run.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("p") < col("floor_prev"), 1L).otherwise(0L)).as("n_stockouts"),
        max(col("p") - col("floor_all")).as("peak_units"),
        (max_by(col("p"), col("day")) - min(col("floor_all"))).as("final_units"),
        (-min(col("floor_all"))).as("shortfall_units"))
  }

  /** q115: session-level event co-occurrence lift — which event TYPES
    * travel together inside one 30-minute-gap session beyond what their
    * marginals predict: q93's market-basket analysis with the session as
    * the basket (q93: what parts sell together; q115: what behaviors
    * cluster — does `error` co-occur with `purchase` more than chance,
    * the diagnostic that separates "errors block checkout" from "errors
    * are background noise"). Sessions come from q101's island machinery,
    * baskets are the per-session distinct type sets, pairs generate
    * MAP-SIDE from the sorted array (the q93 rule — never a self-join),
    * and lift is exact integer ppm: co·N·10⁶ div (s1·s2), magnitudes
    * safe because the alphabet bounds every count by N.
    *
    * Scale shape: one user-keyed window pass (sessionize), one
    * session-keyed distinct-set aggregation, then everything is
    * alphabet²-bounded. */
  def q115SessionAffinity(t: Tables, timeoutMin: Int = 30): DataFrame = {
    val gapUs = timeoutMin * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sessions = t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val baskets = sessions.groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS a, y AS b))))"))
        .as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(count(lit(1)).as("co"))
    val support = baskets.select(explode(col("ts")).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("s"))
    val n = baskets.agg(count(lit(1)).as("n_sessions"))
    pairs
      .join(broadcast(support.select(col("a"), col("s").as("s1"))), Seq("a"))
      .join(broadcast(support.select(col("a").as("b"), col("s").as("s2"))), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("co"), col("s1"), col("s2"),
        col("n_sessions"),
        expr("co * n_sessions * 1000000 div (s1 * s2)").as("lift_ppm"))
  }

  /** q116: interval-overlap join — every (view session, incident window)
    * pair that overlaps IN TIME, with NO shared equi-key: q25/q103 join
    * within a user; q116 answers "which sessions ran during an outage",
    * where the incident is global and the only join predicate is
    * s₁ < e₂ ∧ s₂ < e₁ — the naive plan is a cross product. The scale
    * shape is time-axis banding (the q94 idiom lifted from points to
    * intervals): both sides explode into the fixed-width buckets they
    * span, pairs meet on the bucket equi-key, and each qualifying pair
    * is counted EXACTLY once — credited to the single bucket containing
    * the overlap's start, max(s₁,s₂) — so no distinct pass exists to
    * shuffle pair duplicates. Bucket width ≥ both sides' max duration
    * keeps the explode factor ≤ 2.
    *
    * The oracle states the semantics as the naive overlap join (the q94
    * precedent — the banded plan is provably pair-for-pair equal).
    * Output: every view session with its overlapping-incident count and
    * total overlapped microseconds (exact longs). */
  def q116OverlapJoin(t: Tables): DataFrame = {
    val bucketUs = 600L * 1000000L // >= max view duration (300 s) and incident (600 s)
    val views = t.events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        unix_micros(col("ts")).as("s1"),
        (unix_micros(col("ts")) +
          (lit(60L) + pmod(col("event_id"), lit(240L))) * lit(1000000L)).as("e1"))
    val incidents = t.events.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("s2"),
        (unix_micros(col("ts")) + lit(600L * 1000000L)).as("e2"))
    def banded(df: DataFrame, s: String, e: String) =
      df.select(col("*"), explode(sequence(
        expr(s"$s div ${bucketUs}L"), expr(s"($e - 1) div ${bucketUs}L"))).as("b"))
    val pairs = banded(views, "s1", "e1")
      .join(banded(incidents, "s2", "e2"), Seq("b"))
      .where(col("s1") < col("e2") && col("s2") < col("e1") &&
        col("b") === expr(s"greatest(s1, s2) div ${bucketUs}L"))
      .groupBy(col("view_id"))
      .agg(count(lit(1)).as("n_incidents"),
        sum(least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
          .as("overlap_us"))
    views.select(col("view_id"))
      .join(pairs, Seq("view_id"), "left")
      .select(col("view_id"),
        coalesce(col("n_incidents"), lit(0L)).as("n_incidents"),
        coalesce(col("overlap_us"), lit(0L)).as("overlap_us"))
  }

  /** q117: point-in-time training assembly — for every label event (a
    * purchase), the user's behavioral features computed STRICTLY BEFORE
    * the label instant over a trailing 7-day window: the feature-store
    * discipline ("as-of the label, no future data") that separates a
    * valid training set from one with label leakage — the ML-pipeline
    * sibling of p17's split-leakage closure, at the feature level. A
    * naive build joins labels × events and re-filters per label; the
    * leak-safe AND scale-safe form is ONE user-keyed sort with trailing
    * RANGE frames on the exact microsecond axis (the q100 member), one
    * conditional sum per feature, label rows filtered afterwards — so
    * every event is scanned once no matter how many labels it feeds.
    *
    * The window is [label−7d, label) — half-open, so a feature can never
    * see its own label instant (simultaneous events excluded by the
    * frame bound, not by fragile timestamp arithmetic). All counts exact
    * longs. */
  def q117TrainingAssembly(t: Tables, windowDays: Int = 7): DataFrame = {
    val win = windowDays * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-win, -1)
    def prior(tpe: String) =
      sum(when(col("event_type") === tpe, 1L).otherwise(0L)).over(w)
    t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prior_views", coalesce(prior("view"), lit(0L)))
      .withColumn("prior_clicks", coalesce(prior("click"), lit(0L)))
      .withColumn("prior_errors", coalesce(prior("error"), lit(0L)))
      .withColumn("prior_purchases", coalesce(prior("purchase"), lit(0L)))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_id"),
        date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm:ss")
          .as("label_at"),
        col("prior_views"), col("prior_clicks"), col("prior_errors"),
        col("prior_purchases"))
  }

  /** q118: Kaplan–Meier time-to-convert — the survival curve from first
    * signup to first purchase with RIGHT CENSORING at the corpus
    * horizon: the estimator product-limit analytics needs when "hasn't
    * converted YET" must not be counted as "never converts" (q65's
    * retention grid ignores censoring; a naive conversion-rate-by-day
    * understates late conversion). Output: one row per event time —
    * days-to-convert, the at-risk count, events that day, and S(t) =
    * Π(1 − dᵢ/nᵢ).
    *
    * Float discipline: the product runs as exp(Σ ln(1 − d/n)) where the
    * Σ is a CUMULATIVE window sum — evaluated in sorted order as a
    * sequential running aggregate by both engines, so the float fold
    * order is identical and the rounded survival hash-matches (the
    * ln/exp parity precedent of t14/t15). Scale shape: events collapse
    * to per-user (signup, first-purchase-after) in one exchange; the
    * KM table is |distinct durations|-bounded; the horizon rides the
    * plan as a broadcast 1-row aggregate. */
  def q118SurvivalCurve(t: Tables): DataFrame = {
    val horizon = t.events.agg(max(col("ts").cast("date")).as("h"))
    val perUser = t.events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("ts").cast("date").as("day"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("s_us"),
        min(when(col("event_type") === "signup", col("day"))).as("s_day"))
      .where(col("s_us").isNotNull)
    val firstConv = t.events.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("ts").cast("date").as("p_day"))
      .join(perUser, Seq("user_id"))
      .where(col("p_us") >= col("s_us"))
      .groupBy(col("user_id"))
      .agg(min(struct(col("p_us"), col("p_day"))).as("fp"))
      .select(col("user_id"), col("fp.p_day").as("p_day"))
    val subjects = perUser.join(firstConv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(col("user_id"),
        when(col("p_day").isNotNull, datediff(col("p_day"), col("s_day")))
          .otherwise(datediff(col("h"), col("s_day"))).cast("long").as("dur"),
        col("p_day").isNotNull.as("converted"))
    val byDur = subjects.groupBy(col("dur"))
      .agg(sum(when(col("converted"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("converted"), 1L).otherwise(0L)).as("c"))
    val n = subjects.agg(count(lit(1)).as("n_subjects"))
    val w = Window.orderBy(col("dur"))
    val km = byDur.crossJoin(broadcast(n))
      .withColumn("exited_before", coalesce(
        sum(col("d") + col("c")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_risk", col("n_subjects") - col("exited_before"))
      .where(col("d") > 0)
      // a time where EVERYONE at risk converts has factor 0 — from there
      // on survival is exactly 0, kept out of the ln fold in both engines
      .withColumn("zeroed", sum(when(col("d") === col("n_risk"), 1L)
        .otherwise(0L)).over(Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("log_s", sum(
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(0.0)))
        .over(Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    km.select(col("dur").as("days"), col("n_risk"), col("d").as("events"),
      when(col("zeroed") > 0, lit(0.0))
        .otherwise(round(exp(col("log_s")), 6) + lit(0.0)).as("survival"))
  }

  /** q119: journey step transitions — the Sankey-diagram table: per step
    * index k, how many sessions moved from type X at step k to type Y at
    * step k+1 (first `maxSteps` steps). q83's transition matrix pools
    * ALL positions — it answers "what follows a click in general"; q119
    * keeps the position, which is what a journey visualization needs
    * (the entry mix at step 1 differs from the loop behavior at step 5).
    * Sessions are q101's 30-minute islands; steps are row_numbers inside
    * them — one more window on the SAME user sort, zero extra exchanges.
    *
    * Output is ≤ maxSteps·|alphabet|² rows of exact counts plus each
    * step-pair's share of its step in exact ppm. */
  def q119StepTransitions(t: Tables, timeoutMin: Int = 30,
                          maxSteps: Int = 5): DataFrame = {
    val gapUs = timeoutMin * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sessions = t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sw = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("us"), col("event_id"))
    val steps = sessions
      .withColumn("step", row_number().over(sw))
      .withColumn("next_type", lead(col("event_type"), 1).over(sw))
      .where(col("step") <= maxSteps && col("next_type").isNotNull)
      .groupBy(col("step"), col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    steps
      .withColumn("step_total",
        sum(col("n")).over(Window.partitionBy(col("step"))))
      .select(col("step"), col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div step_total").as("share_ppm"))
  }

  /** q120: CUPED-adjusted A/B read-out — the variance-reduction
    * technique production experimentation platforms run on top of q112's
    * plain z: per user, a PRE-period covariate (event count in the first
    * half of the window) explains away baseline activity differences in
    * the outcome (purchases in the second half), via
    * y_adj = y − θ·(x − x̄) with θ = cov(x,y)/var(x). Same portable-hash
    * arms as q112.
    *
    * Float discipline: θ is computed with covar_pop/var_pop (the q52
    * aggregate class) and ROUNDED at 6 dp BEFORE it is applied — both
    * engines then adjust with the identical θ, so the only aggregated
    * floats are the final means, rounded once (the q52 magnitude
    * discipline). The midpoint is exact integer-µs arithmetic off
    * plan-borne min/max. Scale shape: events partial-aggregate to one
    * row per user; every later aggregate runs on the user frame; the
    * tiny θ/mean scalars ride the plan as broadcast crossJoins. */
  def q120Cuped(t: Tables): DataFrame = {
    val bounds = t.events.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val users = t.events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .crossJoin(broadcast(bounds))
      .withColumn("mid", expr("lo + (hi - lo) div 2"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L))
          .cast("double").as("x"),
        sum(when(col("us") >= col("mid") && col("event_type") === "purchase",
          1L).otherwise(0L)).cast("double").as("y"))
      .select(
        (pmod(Dedup.md5Hash60(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2L)) === 0L).as("in_a"),
        col("x"), col("y"))
    val theta = users.agg(
      (round(covar_pop(col("x"), col("y")) / var_pop(col("x")), 6) + lit(0.0))
        .as("theta"),
      (round(avg(col("x")), 6) + lit(0.0)).as("x_bar"))
    users.crossJoin(broadcast(theta))
      .select(col("in_a"), col("y"), col("theta"),
        (col("y") - col("theta") * (col("x") - col("x_bar"))).as("y_adj"))
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
        (round(avg(when(col("in_a"), col("y"))), 6) + lit(0.0)).as("raw_a"),
        (round(avg(when(!col("in_a"), col("y"))), 6) + lit(0.0)).as("raw_b"),
        (round(avg(when(col("in_a"), col("y_adj"))), 6) + lit(0.0)).as("adj_a"),
        (round(avg(when(!col("in_a"), col("y_adj"))), 6) + lit(0.0)).as("adj_b"),
        max(col("theta")).as("theta"))
  }

  /** q121: inter-event gap spectrum — per event type, the histogram of
    * successive same-(user, type) gaps over LOG₂ seconds buckets: the
    * cadence fingerprint that separates retry storms (mass at 2⁰–2²s),
    * organic browsing (minutes) and daily habits (2¹⁶–2¹⁷s) at a
    * glance — q94 counts pairs under ONE window, q121 draws the whole
    * spectrum. The log bucket is EXACT integer arithmetic: bucket =
    * length(bin(gap_seconds)) = ⌊log₂⌋+1 via the binary-string length —
    * no float log to drift (zero-second gaps take bucket 0). One
    * user+type-keyed window pass, alphabet × ~40 output rows, exact-ppm
    * shares per type. */
  def q121GapSpectrum(t: Tables): DataFrame = {
    val gaps = t.events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_s", expr("(us - lag(us, 1) OVER (PARTITION BY user_id, " +
        "event_type ORDER BY us, event_id)) div 1000000"))
      .where(col("gap_s").isNotNull)
      .select(col("event_type"),
        when(col("gap_s") <= 0, lit(0))
          .otherwise(length(expr("bin(gap_s)"))).cast("int").as("bucket"))
    gaps.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("type_total",
        sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("bucket"), col("n"),
        expr("n * 1000000 div type_total").as("share_ppm"))
  }

  /** q92: RFM segmentation — per customer the classic recency/frequency/
    * monetary quintile scores and the concatenated "RFM" segment label,
    * the workhorse customer-base cut. Recency anchors on the corpus max
    * order date, carried as a 1-row aggregate crossJoin (plan-borne, the
    * q90/q33 rule — zero jobs at construction). The three ntiles ride
    * the per-customer AGGREGATE (|customers| rows, orders-of-magnitude
    * below the fact table; at true 100 TB scale the quintile boundaries
    * would come from approx_percentile over the aggregate — documented,
    * not silently assumed), each over a total (metric, custkey) order so
    * bucket placement is deterministic. All inputs exact integers. */
  def q92Rfm(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("monetary_cents"))
    val anchor = t.orders.agg(max(col("o_orderdate").cast("date")).as("max_day"))
    val scored = perCust.crossJoin(anchor)
      .select(col("o_custkey"),
        datediff(col("max_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    // Scale form: each ntile(5) is a plain global window over a total
    // (metric, custkey) order. RewriteLowCardWindow keeps it over a
    // provably small customer aggregate and otherwise derives it from
    // bucket-parallel positions and the partition total (the closed-form
    // big-buckets-first split), bit-identical to ntile(5).
    def score(metric: String, descending: Boolean): Column = {
      val v = if (descending) -col(metric) else col(metric)
      ntile(5).over(Window.orderBy(v, col("o_custkey")))
    }
    scored.select(col("o_custkey"), col("recency_days"), col("frequency"),
      col("monetary_cents"),
      score("recency_days", descending = false).as("r_score"),
      score("frequency", descending = true).as("f_score"),
      score("monetary_cents", descending = true).as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
  }

  /** q93: market-basket affinity — the top part pairs co-purchased within
    * an order, with support counts and lift: the association-rule
    * building block (pairs with lift ≫ 1 co-occur far above chance).
    * The quadratic lives INSIDE each order: baskets collapse to sorted
    * part arrays in ONE orderkey aggregation, and pairs generate
    * MAP-SIDE from each array (index-windowed slice — no self-join, no
    * second orderkey exchange), so pair volume is Σ|basket|²/2, linear
    * in orders with basket-bounded rows (TPC-H ~4, any retail basket ≤
    * dozens) — never a corpus cross join. Supports ride a per-part
    * aggregate; N is the plan-borne 1-row order count.
    *
    * Exactness: lift = co·N / (s1·s2) computed from exact longs, one
    * rounded division; the top-50 cut orders by (co DESC, p1, p2) —
    * total, so the page is deterministic (the q79 rule). */
  def q93BasketAffinity(t: Tables, topK: Int = 50): DataFrame = {
    // collect_set IS the per-order distinct — a separate .distinct() would
    // add a second corpus-wide exchange on (orderkey, partkey) for rows
    // the set aggregation dedups anyway (r15: 2 corpus exchanges → 1)
    val items = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
    // one basket aggregation, then pairs generated MAP-SIDE from the
    // sorted basket array (no self-join, no second orderkey exchange):
    // each ordered pair emits exactly once via the index-windowed slice
    val baskets = items.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"))
        .as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("co"))
    // supports and N also derive from the basket frame (ps is already
    // per-order-distinct), so the corpus pays ONE distinct pass, not three
    val support = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
    val n = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(support.select(col("l_partkey").as("p1"), col("s").as("s1")), Seq("p1"))
      .join(support.select(col("l_partkey").as("p2"), col("s").as("s2")), Seq("p2"))
      .crossJoin(n)
      .select(col("p1"), col("p2"), col("co"), col("s1"), col("s2"),
        (round((col("co") * col("n_orders")).cast("double") /
          (col("s1") * col("s2")).cast("double"), 6) + lit(0.0)).as("lift"))
      .orderBy(col("co").desc, col("p1"), col("p2"))
      .limit(topK)
  }

  /** q94: rapid-repeat (echo) detection — all pairs of same-(user, type)
    * events within `windowSec` of each other, rolled up per type: the
    * double-click / double-charge / retry-storm screen, the events-table
    * analog of dedup. The all-pairs-in-band self-join is BANDED, never
    * quadratic: the later event explodes into its own and the previous
    * time bucket (Δ ≤ window ⟹ the earlier event's bucket is exactly one
    * of those two), so the join keys on (user, type, bucket) and each
    * qualifying pair matches EXACTLY once — no distinct, no dedupe
    * exchange, pair volume ∝ actual echoes. A per-(user, type, bucket)
    * hot key is bounded by event rate within one window span.
    *
    * Exactness: gaps in exact μs; the mean is the one rounded division. */
  def q94RapidRepeats(t: Tables, windowSec: Int = 3600): DataFrame = {
    val winUs = windowSec * 1000000L
    val base = t.events.select(col("user_id"), col("event_type"),
      col("event_id"), unix_micros(col("ts")).as("us"))
    val earlier = base.select(col("user_id"), col("event_type"),
      col("event_id").as("e1"), col("us").as("us1"),
      expr(s"us div ${winUs}L").as("bucket"))
    val later = base.select(col("user_id"), col("event_type"),
      col("event_id").as("e2"), col("us").as("us2"),
      explode(array(expr(s"us div ${winUs}L"),
        expr(s"us div ${winUs}L") - 1)).as("bucket"))
    earlier.join(later, Seq("user_id", "event_type", "bucket"))
      .where(col("us2") - col("us1") > 0 && col("us2") - col("us1") <= winUs ||
        (col("us2") === col("us1") && col("e1") < col("e2")))
      .select(col("event_type"), col("e2"), (col("us2") - col("us1")).as("gap_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("e2")).as("n_echoed"),
        min(col("gap_us")).as("min_gap_us"),
        (round(sum(col("gap_us")).cast("double") / count(lit(1)).cast("double"), 6)
          + lit(0.0)).as("mean_gap_us"))
  }

  /** q95: robust outlier profile — per return flag the median, the MAD
    * (median absolute deviation) and the count beyond the classic
    * 3·1.4826·MAD robust z cut: the outlier screen that, unlike
    * mean±3σ, is not itself dragged by the outliers it hunts. Medians
    * are exact sort-based percentiles over integer cents (interpolation
    * yields exact .0/.5 doubles — the q30 discipline); the flag-keyed
    * medians broadcast back onto the scan, so the corpus shuffles only
    * for its two keyed aggregations. */
  def q95RobustOutliers(t: Tables): DataFrame = {
    val base = t.lineitem.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    val med = base.groupBy(col("l_returnflag"))
      .agg(expr("percentile(cents, 0.5)").as("median_cents"))
    val dev = base.join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("median_cents"),
        abs(col("cents") - col("median_cents")).as("adev"))
    // the robust threshold is itself data-dependent, so an exact MAD
    // outlier count is inherently a third pass — each pass is one keyed
    // aggregation over the scan, nothing quadratic
    val mad = dev.groupBy(col("l_returnflag"))
      .agg(max(col("median_cents")).as("median_cents"),
        expr("percentile(adev, 0.5)").as("mad_raw"))
    dev.select(col("l_returnflag"), col("adev"))
      .join(broadcast(mad), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("median_cents")).as("median_cents"),
        round(max(col("mad_raw")), 4).as("mad_cents"),
        sum(when(col("adev") > col("mad_raw") * 3 * 1.4826, 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** q97: contingency crosstab with χ² decomposition — the (priority ×
    * status) observed/expected table and each cell's χ² contribution: the
    * independence test behind "does order priority relate to status",
    * and the relational member of the dependence family (t27 runs the
    * same statistic over text). One aggregation exchange builds the cell
    * counts; row/column margins ride the CELL table (|rows|·|cols| ≤
    * dozens) via windows, never a rescan.
    *
    * Exactness: counts are exact longs; expected = rowN·colN/N is ONE
    * IEEE division of exact longs (deterministic, unrounded — the q28
    * rule); the χ² contribution rounds once at 6 dp. */
  def q97CrosstabChi2(t: Tables): DataFrame = {
    val cells = t.orders
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy(col("o_orderpriority"))
    val wc = Window.partitionBy(col("o_orderstatus"))
    val wa = Window.partitionBy()
    cells
      .withColumn("row_n", sum(col("n")).over(wr))
      .withColumn("col_n", sum(col("n")).over(wc))
      .withColumn("total", sum(col("n")).over(wa))
      .withColumn("expected",
        (col("row_n") * col("col_n")).cast("double") / col("total").cast("double"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
        col("row_n"), col("col_n"), col("expected"),
        (round((col("n") - col("expected")) * (col("n") - col("expected"))
          / col("expected"), 6) + lit(0.0)).as("chi2_term"))
  }

  /** q98: CDC changelog compaction — apply an insert/update/delete event
    * stream to produce the current snapshot: per key, the LATEST change
    * wins and a terminal delete tombstones the row — the Debezium-apply every lakehouse table
    * maintenance job runs (q77 merges one batch into a target; q98
    * collapses an arbitrarily long changelog with no target at all).
    * One key-partitioned window pass over the changelog, no join.
    *
    * The changelog derives deterministically from lineitem (orderkey =
    * key, linenumber = version, op by modulus) so the oracle replays it
    * relationally; values are exact cents. The synthetic log CAN collide
    * on version (linenumber repeats within an order here), so the
    * latest-wins order totalizes over (version, cents, op) — any
    * remaining tie is a full duplicate and either pick is the same
    * row. */
  def q98CdcCompact(t: Tables): DataFrame = {
    val log = t.lineitem.select(
      col("l_orderkey").as("key"),
      col("l_linenumber").cast("long").as("version"),
      when(col("l_partkey") % 11 === 0, lit("D"))
        .when(col("l_linenumber") === 1, lit("I")).otherwise(lit("U")).as("op"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("version").desc, col("cents").desc, col("op").asc)
    log
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") =!= "D")
      .select(col("key"), col("version").as("last_version"),
        col("op").as("last_op"), col("cents"))
  }

  /** q99: SCD2 interval build — collapse each customer's order-priority
    * history into validity intervals [valid_from, valid_to) with a
    * current-row flag: the slowly-changing-dimension type-2 construction
    * every warehouse dimension load performs. Consecutive same-value runs
    * collapse FIRST (the q84 island trick keyed by value-change markers),
    * then one lead() supplies each interval's end — two passes over the
    * customer-keyed window, no self-join.
    *
    * Exactness: the change history is total-ordered ((date, orderkey) —
    * a customer can order twice a day), dates serialize as ISO strings
    * (the q82 rule), the open current interval carries a NULL end. */
  def q99Scd2(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val hist = t.orders.select(col("o_custkey"),
      col("o_orderdate").cast("date").as("day"),
      col("o_orderkey"), col("o_orderpriority").as("value"))
    val marked = hist
      .withColumn("changed",
        when(lag(col("value"), 1).over(w).isNull ||
          lag(col("value"), 1).over(w) =!= col("value"), 1L).otherwise(0L))
      .withColumn("run", sum(col("changed")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = marked.groupBy(col("o_custkey"), col("run"))
      .agg(min(col("value")).as("value"),
        min(col("day")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .select(col("o_custkey"), col("value"), col("n_orders"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** q100: trailing time-interval window — per event, the count and exact
    * cents sum of the user's activity over the trailing 7 DAYS (a RANGE
    * frame over event time, not a row count): the moving-window feature
    * every fraud/engagement model consumes, and the member q09/q39/q74
    * lack (q09 runs unbounded, q39 ranges over a numeric key, q74 bounds
    * by ROWS — none bounds by TIME). The frame rides exact epoch
    * microseconds (Spark's rangeBetween takes longs, so the μs integer
    * axis is the portable form; same-timestamp peers are all included in
    * both engines by RANGE semantics). One user-keyed window pass. */
  def q100TrailingWindow(t: Tables): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-weekUs, 0L)
    t.events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d", sum(col("cents")).over(w))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("n_7d"), col("sum_7d"))
  }

  /** q102: calendar date spine — the gapless daily order series over the
    * observed [min, max] date range with zero-filled missing days and an
    * explicit gap flag: the time-series completeness contract (a daily
    * chart or forecasting model fed only observed days silently
    * interpolates over outages — q63 fills VALUE gaps forward, q102
    * manufactures the missing ROWS). Bounds ride the plan as a 1-row
    * aggregate (the q90 rule — zero jobs at construction); the spine is
    * one generated sequence exploded against the daily aggregate, so the
    * left join is |days|-sized regardless of order volume. */
  def q102DateSpine(t: Tables): DataFrame = {
    val daily = t.orders.select(col("o_orderdate").cast("date").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val bounds = t.orders.agg(
      min(col("o_orderdate").cast("date")).as("lo"),
      max(col("o_orderdate").cast("date")).as("hi"))
    bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        col("n").isNull.as("is_gap"))
  }

  /** q104: rolling active-user series — per observed day, the distinct
    * daily actives (DAU), the distinct actives over the trailing 7 days
    * (WAU) and the DAU/WAU stickiness ratio in exact ppm: THE engagement
    * series, and a genuinely windowed DISTINCT — which no window frame
    * computes (count_distinct over a frame isn't supported anywhere).
    * The exact shape that scales: (day, user) first collapses to the
    * tiny distinct frame, each row then CONTRIBUTES itself to the 7
    * target days it covers (one explode of a generated 7-day sequence),
    * and one distinct+count per target day finishes — work ∝ active
    * (day, user) pairs × 7, never events × 7. */
  def q104RollingActives(t: Tables): DataFrame = {
    val du = t.events
      .select(col("ts").cast("date").as("day"), col("user_id")).distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
        col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
  }

  /** q101: bounce-rate report — per user, their 30-minute-gap session
    * count, single-event ("bounce") session count and the bounce share:
    * the standard engagement KPI over q24's sessionization rule, via the
    * q84 island trick (a session starts where the gap from the previous
    * event exceeds the timeout) instead of session_window, so the session
    * identity is a plain window cumsum the rollup can reuse. One
    * user-keyed window pass + two aggregations; share in exact ppm
    * (the q91 rule). */
  def q101BounceRate(t: Tables, timeoutMin: Int = 30): DataFrame = {
    val gapUs = timeoutMin * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val marked = t.events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
          lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("user_id"), col("n_sessions"), col("n_bounces"),
        expr("n_bounces * 1000000 div n_sessions").as("bounce_ppm"))
  }

  /** q96: Benford first-digit profile — the fraud/fabrication screen:
    * leading digits of order prices counted against Benford's law.
    * Digit extraction is string-exact (first char of the cents string —
    * no float log anywhere), shares are exact integer ppm (n·10⁶ div
    * total, the q91 rule), and the expected-share constants live in the
    * SPEC (JVM log10), not the query — so the query output carries zero
    * engine-dependent transcendentals and hash-checks exactly. One
    * aggregation exchange over 9 keys. */
  def q96Benford(t: Tables): DataFrame = {
    val digits = t.orders
      .select(substring(round(col("o_totalprice") * 100, 0).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(total)
      .select(col("digit"), col("n"),
        expr("n * 1000000 div total").as("share_ppm"))
  }

  /** q105: peak-concurrency sweep — per day, the maximum number of
    * simultaneously-open intervals (q70's synthetic [ts, ts+60+id%240 s]
    * sessions) and the first instant that peak is reached: the capacity
    * question (peak concurrent sessions/connections/builds) a coverage
    * query like q70 cannot answer, because coverage collapses overlap
    * while concurrency IS the overlap count.
    *
    * The classic sweep-line, made partitionable: a global running sum
    * over +1/−1 boundary events does not scale (one total order), but
    * the durations are BOUNDED (≤ 300 s), so an interval touches at most
    * two calendar days; clipping each interval to the days it touches
    * makes per-day sweeps EXACT — concurrency at any instant only sees
    * intervals clipped into that day. Boundary deltas at the same
    * microsecond partial-aggregate to a net delta first (ends cancel
    * starts, which also pins the end-before-start tie rule: an interval
    * ending at t never overlaps one starting at t), so the per-day
    * sorted sweep runs over DISTINCT boundary instants, not raw events.
    * All arithmetic is integer microseconds.
    *
    * Scale shape: one day-keyed exchange after a map-side partial agg;
    * window/sort state per partition is O(distinct boundary instants of
    * one day). For finer partitioning swap day for hour — the clipping
    * argument only needs max-duration ≤ the bucket width. */
  def q105Concurrency(t: Tables): DataFrame = concurrencySweep(t.events)

  /** q105 core over any (event_id, ts) frame. */
  def concurrencySweep(events: DataFrame): DataFrame =
    concurrencyReport(concurrencyDeltas(events))

  /** q105's MERGEABLE state: per (day, boundary instant), the net open/
    * close delta and the count of intervals starting there — both plain
    * sums, so two delta frames fold by (day, t) summation (the streaming
    * monitor's algebra; a day with only carried-over tails keeps
    * starts = 0 rows naturally). */
  def concurrencyDeltas(events: DataFrame): DataFrame = {
    val iv = events.select(
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        (lit(60L) + pmod(col("event_id"), lit(240L))) * lit(1000000L)).as("e"))
    val parts = iv
      .select(col("s"), col("e"),
        explode(sequence(timestamp_micros(col("s")).cast("date"),
          timestamp_micros(col("e") - 1).cast("date"))).as("day"))
      .select(col("day"),
        greatest(col("s"), unix_micros(col("day").cast("timestamp"))).as("cs"),
        least(col("e"),
          unix_micros(date_add(col("day"), 1).cast("timestamp"))).as("ce"),
        (col("s") >= unix_micros(col("day").cast("timestamp"))).as("starts_here"))
    parts.select(col("day"), col("cs").as("t"), lit(1L).as("delta"),
        when(col("starts_here"), 1L).otherwise(0L).as("st"))
      .unionByName(parts.select(col("day"), col("ce").as("t"),
        lit(-1L).as("delta"), lit(0L).as("st")))
      .groupBy(col("day"), col("t"))
      .agg(sum(col("delta")).as("net"), sum(col("st")).as("starts"))
  }

  /** q108: half-life recency score — the feature-store "how alive is
    * this user" engagement feature: every event contributes
    * 2^(20 − min(age_days, 20)) relative to the corpus's newest day, so
    * a today-event is worth 2^20 and worth half that per day of age,
    * flooring at 1 beyond 20 days (nothing ever truncates to zero — the
    * sum is a plain integer, bit-reproducible in any engine, which is
    * why the half-life is a SHIFT and not exp(−λt): IEEE exp differs in
    * ulps across libm implementations, dyadic shifts never do).
    *
    * Scale shape: the anchor day rides the plan as a broadcast 1-row
    * aggregate (constructing the frame launches no jobs — the q33
    * scalar-subquery shape), the shift is scan-local, and the per-user
    * rollup is ONE partial-aggregated exchange. */
  def q108Recency(t: Tables): DataFrame = recencyScore(t.events)

  /** q108 core over any (user_id, ts) frame. */
  def recencyScore(events: DataFrame): DataFrame = {
    val anchor = events.agg(max(col("ts").cast("date")).as("anchor"))
    events.select(col("user_id"), col("ts").cast("date").as("day"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), col("day"),
        datediff(col("anchor"), col("day")).as("age_d"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(max(col("day")), "yyyy-MM-dd").as("last_seen"),
        sum(expr("shiftright(1048576L, cast(least(age_d, 20) as int))"))
          .as("recency_score"))
  }

  /** q109: path-trigram mining — the top consecutive event-type triples
    * across all user timelines, in total ((ts, event_id)) order: the
    * frequent-subsequence summary behind funnel DISCOVERY (q66 checks a
    * known funnel; q109 surfaces which paths exist at all, the first
    * step of sequence-pattern mining à la PrefixSpan restricted to
    * contiguous 3-grams, where the n-gram restriction makes it one
    * window pass instead of a combinatorial search).
    *
    * Scale shape: trigram generation is two lead()s over the user-keyed
    * window sort (the q83/q88/q89 exchange family); counts partial-
    * aggregate to ≤ |alphabet|³ rows; the final rank runs on that
    * alphabet-bounded frame, so the unpartitioned window is safe by
    * construction. Ties rank lexicographically — deterministic, hence
    * hash-checkable. */
  def q109PathTrigrams(t: Tables, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("trigram"))).cast("int"))
      .where(col("rank") <= topK)
      .select(col("rank"), col("trigram"), col("n"))
  }

  /** q110: debounce — per user, keep an event instant only if ≥ `gapSec`
    * has passed since the last KEPT instant: the rate-limiting semantics
    * (double-click suppression, notification throttling, at-most-one-per-
    * hour alert rules). This is the classic NOT-window-expressible
    * operator: whether an instant survives depends on which PREVIOUS
    * instants survived (a greedy chain), which no frame over the raw
    * sequence can see — q24/q101's island sessionization measures gaps
    * from the previous RAW event, q110 from the previous KEPT one.
    *
    * Engine shape: per-user distinct instants fold through ONE codegen'd
    * `aggregate` HOF over the sorted array (the q64 ordered-agg
    * discipline) — state is (last_kept, n_kept), so the chain runs
    * scan-local after one user-keyed exchange; no recursion, no
    * per-iteration jobs. The oracle replays the same greedy chain as a
    * DuckDB recursive CTE stepping every user's frontier one kept
    * instant per iteration (aggregates over the base — not the
    * recursive — relation, so the standard restriction doesn't bite).
    * Array size is bounded by per-user activity; ties collapse via the
    * DISTINCT instant grid so the fold is total-ordered. */
  def q110Debounce(t: Tables, gapSec: Long = 3600L): DataFrame = {
    val gapUs = gapSec * 1000000L
    t.events
      .select(col("user_id"), unix_micros(col("ts")).as("us")).distinct()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_instants"),
        sort_array(collect_list(col("us"))).as("a"))
      .select(col("user_id"), col("n_instants"),
        expr(
          s"""aggregate(a,
             |  named_struct('last', CAST(-4611686018427387904 AS BIGINT),
             |               'n', CAST(0 AS BIGINT)),
             |  (acc, x) -> IF(x >= acc.last + ${gapUs}L,
             |                 named_struct('last', x, 'n', acc.n + 1L), acc),
             |  acc -> acc.n)""".stripMargin).as("n_kept"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 div n_instants"))
  }

  /** q111: revenue reconciliation — the warehouse's header-vs-detail
    * consistency audit: recompute each order's billed total from its
    * line items (extended price less discount plus tax) and roll the
    * deltas against the order header's total up per order status,
    * counting exact matches, mismatches and headerless/line-less
    * orphans. The close-of-books query every finance pipeline runs; on
    * this synthetic data every header mismatches (totals are generated
    * independently) — which is exactly what the audit should report.
    *
    * Exactness: money is integerized ONCE per column (cents for prices,
    * integer percent for discount/tax — the q77 cents rule), the
    * per-line charge is ext·(100−d)·(100+t)/10000 in pure integer
    * arithmetic, so both engines agree bit-for-bit with zero float
    * aggregation. Scale shape: line items partial-aggregate to per-order
    * totals before ONE order-keyed join (full outer, so orphan sides
    * surface); the status rollup is a second tiny exchange. Cent sums
    * fit BIGINT to ~10¹⁷ cents/status; beyond that the integerization
    * would move to DECIMAL(38), same plan. */
  def q111Reconciliation(t: Tables): DataFrame =
    reconcile(t.orders, t.lineitem)

  /** q111 core over any (orders, lineitem)-shaped pair. */
  def reconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem
      .select(col("l_orderkey"),
        (expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")) *
          (lit(100L) + expr("CAST(round(l_tax * 100) AS BIGINT)")))
          .as("raw"))
      .groupBy(col("l_orderkey"))
      .agg(expr("sum(raw div 10000)").as("billed_cents"))
    val heads = orders.select(col("o_orderkey"),
      coalesce(col("o_orderstatus"), lit("(none)")).as("status"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("header_cents"))
    heads.join(lines, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(
        coalesce(col("status"), lit("(no_header)")).as("status"),
        col("header_cents"), col("billed_cents"),
        (coalesce(col("header_cents"), lit(0L)) -
          coalesce(col("billed_cents"), lit(0L))).as("delta"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("billed_cents").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("header_cents").isNotNull && col("billed_cents").isNotNull &&
          col("delta") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(coalesce(col("billed_cents"), lit(0L))).as("billed_cents"),
        sum(coalesce(col("header_cents"), lit(0L))).as("header_cents"),
        sum(abs(col("delta"))).as("abs_delta_cents"))
  }

  /** q112: A/B-test read-out — the experimentation primitive: users are
    * assigned to arms by the salted portable hash (p03's rule — an
    * auditable, engine-reproducible assignment, where rand() is none of
    * those), the unit of analysis is the ACTIVE DAY (a (user, day) with
    * any event; it converts if it saw a purchase — user-level "ever
    * purchased" saturates to 100 % on any long-window corpus, a
    * degenerate metric whose pooled variance is zero), and the read-out
    * is the two-proportion pooled z statistic. The z is an unrounded
    * IEEE projection of four exact integers (the t11/q28 bit-parity
    * class: identical expression text in both engines, only correctly-
    * rounded IEEE ops — no aggregated-float drift because the
    * aggregation happened in integer space); degenerate pooled rates
    * (0 or 1 — zero variance) surface as NULL by the same CASE in both
    * engines rather than an ANSI 0/0 error.
    *
    * Scale shape: events partial-aggregate to (user, day, converted) in
    * one exchange — arm is a scan projection off the hash, never a
    * lookup join — then four conditional counts collapse to ONE row. */
  def q112AbTest(t: Tables): DataFrame = abTest(t.events)

  /** q112 core over any (user_id, ts, event_type) frame. */
  def abTest(events: DataFrame): DataFrame = {
    val units = events
      .select(col("user_id"), col("ts").cast("date").as("day"),
        (col("event_type") === "purchase").as("conv"))
      .groupBy(col("user_id"), col("day")).agg(max(col("conv")).as("converted"))
      .select(
        (pmod(Dedup.md5Hash60(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2L)) === 0L).as("in_a"),
        col("converted"))
    units.agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("in_a") && col("converted"), 1L).otherwise(0L)).as("x_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("in_a") && col("converted"), 1L).otherwise(0L)).as("x_b"))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("CASE WHEN n_a > 0 THEN x_a * 1000000 div n_a END").as("rate_a_ppm"),
        expr("CASE WHEN n_b > 0 THEN x_b * 1000000 div n_b END").as("rate_b_ppm"),
        expr("""CASE WHEN n_a > 0 AND n_b > 0
                  AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
                  (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                  / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
                END""").as("z"))
  }

  /** The per-day sweep over a (day, t, net, starts) delta frame. */
  def concurrencyReport(deltas: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("day")).orderBy(col("t"))
    val run = deltas
      .withColumn("running",
        sum(col("net")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("peak", max(col("running")).over(Window.partitionBy(col("day"))))
    val peaks = run.filter(col("running") === col("peak"))
      .groupBy(col("day"))
      .agg(max(col("peak")).as("peak"), min(col("t")).as("pt"))
    val starts = deltas.groupBy(col("day"))
      .agg(sum(col("starts")).as("n_starts"))
    peaks.join(starts, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_starts"),
        col("peak").as("peak_concurrency"),
        date_format(timestamp_micros(col("pt")), "yyyy-MM-dd HH:mm:ss")
          .as("peak_at"))
  }
}
