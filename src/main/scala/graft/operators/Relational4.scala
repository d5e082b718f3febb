package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth tranche of the relational surface (SURVEY.md §2.3): the regexp
  * scalar battery, statistical/regression aggregates, bitwise/boolean
  * aggregates, sequence generators, and the string-function battery.
  * Same conventions as Relational: every computed column aliased
  * identically in the DuckDB oracle; floats either integer-derived,
  * single-division, or rounded at an explicitly chosen precision.
  */
object Relational4 {

  /** q51: regexp scalar battery — extract (first group), extract-all
    * (serialized), count, and match-test, all in one scan projection.
    * Patterns are RE2-safe (no backrefs/lookaround — the p04 rule) so
    * Java regex and DuckDB's RE2 agree match-for-match; an unmatched
    * regexp_extract yields '' in both engines. Zero shuffle. */
  def q51Regexp(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      regexp_extract(col("text"), "\\b(s[a-z]+)\\b", 1).as("first_s_word"),
      regexp_count(col("text"), lit("[aeiou][aeiou]")).cast("int").as("n_vowel_pairs"),
      col("text").rlike("stream").as("has_stream"),
      array_join(regexp_extract_all(col("text"), lit("\\b(s[a-z]+)\\b"), lit(1)), ",")
        .as("s_words_csv"))

  /** q52: statistical/regression aggregates — corr, covariance, variance,
    * and the regr_* family over (l_discount, l_tax), grouped by return
    * flag. Both engines compute numerically-stable merged moments whose
    * results differ only at ~1e-15 relative; every aggregated value here
    * is O(1) or smaller by column choice (discount/tax ∈ [0, 0.1]), so
    * round(·, 6) absorbs merge-order noise without masking real error
    * (the q01 rounded-aggregate rule). regr_count is exact integers.
    * Every rounded double gets `+ 0.0` (here and in the oracle): a
    * near-zero covariance can round to IEEE −0.0 in one engine and +0.0
    * in the other (observed: DuckDB −0.0 vs Spark 0.0 on covar at
    * sf0.01), and the hash compare distinguishes the two; x + 0.0
    * canonicalizes −0.0 → +0.0 identically in both engines. */
  private def z(c: Column): Column = c + lit(0.0)
  def q52StatsAgg(t: Tables): DataFrame =
    t.lineitem.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      z(round(corr(col("l_discount"), col("l_tax")), 6)).as("corr_dt"),
      z(round(covar_samp(col("l_discount"), col("l_tax")), 6)).as("covar_s"),
      z(round(covar_pop(col("l_discount"), col("l_tax")), 6)).as("covar_p"),
      z(round(var_samp(col("l_discount")), 6)).as("var_s"),
      z(round(stddev_pop(col("l_discount")), 6)).as("stddev_p"),
      z(round(regr_slope(col("l_tax"), col("l_discount")), 6)).as("slope"),
      z(round(regr_intercept(col("l_tax"), col("l_discount")), 6)).as("intercept"),
      z(round(regr_r2(col("l_tax"), col("l_discount")), 6)).as("r2"),
      regr_count(col("l_tax"), col("l_discount")).as("n_pairs"))

  /** q53: bitwise/boolean aggregate battery — bit_and/or/xor over the
    * customer key, bool_and/bool_or/count_if over price predicates, and
    * the exact interpolated median, grouped by order priority. All
    * integer or boolean semantics except the median, whose even-count
    * interpolation (a+b)/2 over integer keys is IEEE-exact in both
    * engines (sum and halving of < 2^52 integers are representable), so
    * nothing needs rounding. One partial-aggregated exchange. */
  def q53BitwiseAgg(t: Tables): DataFrame =
    t.orders.groupBy(col("o_orderpriority")).agg(
      bit_and(col("o_custkey")).as("custkey_and"),
      bit_or(col("o_custkey")).as("custkey_or"),
      bit_xor(col("o_custkey")).as("custkey_xor"),
      bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
      bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
      count_if(col("o_totalprice") > 200000).as("n_over_200k"),
      median(col("o_custkey")).as("median_custkey"))

  /** q54: sequence/generator battery — integer ranges (with and without
    * step) and a month-stepped date range, driven by per-row values so the
    * generators are exercised data-dependently, serialized to CSV for
    * cross-engine comparison (Spark `sequence` ↔ DuckDB `generate_series`;
    * dates format through yyyy-MM-dd on both sides since DuckDB generates
    * timestamps). Zero shuffle: one scan projection over nation. */
  def q54Sequence(t: Tables): DataFrame =
    t.nation.select(
      col("n_nationkey"),
      array_join(transform(
        sequence(lit(0), pmod(col("n_nationkey"), lit(5))), _.cast("string")), ",")
        .as("ints_csv"),
      array_join(transform(
        sequence(lit(10), lit(0) - pmod(col("n_nationkey"), lit(7)), lit(-3)),
        _.cast("string")), ",")
        .as("down_csv"),
      array_join(transform(
        sequence(to_date(lit("2024-01-15")),
          add_months(to_date(lit("2024-01-15")), pmod(col("n_nationkey"), lit(6)).cast("int")),
          expr("interval 1 month")),
        d => date_format(d, "yyyy-MM-dd")), ",")
        .as("months_csv"))

  /** q55: string-function battery — pad, translate, reverse, left/right,
    * split_part, repeat, position and ascii in one scan projection over
    * customer names. Every function has identical semantics in DuckDB
    * (1-based positions, empty-string edge cases); instr↔strpos and ascii
    * land as ints on both sides. Zero shuffle. */
  def q55Strings(t: Tables): DataFrame =
    t.customer.select(
      col("c_custkey"),
      lpad(col("c_name"), 22, "*").as("padded"),
      translate(col("c_name"), "#0", "-x").as("translated"),
      reverse(col("c_name")).as("rev"),
      substring(col("c_name"), 1, 8).as("head8"),
      expr("right(c_name, 4)").as("tail4"),
      expr("split_part(c_name, '#', 2)").as("num_part"),
      repeat(substring(col("c_name"), 1, 2), 3).as("tripled"),
      instr(col("c_name"), "9").cast("int").as("pos_nine"),
      ascii(expr("right(c_name, 1)")).cast("int").as("last_ascii"))

  /** q56: time-interval RANGE window frames over event time — the rolling
    * per-user aggregates (last-hour count/sum, next-30-minutes count) an
    * event pipeline computes without sessionization. q39's RANGE frame
    * orders by a NUMERIC key; this one orders by the timestamp itself with
    * INTERVAL bounds — peers at the same ts land in one frame in both
    * engines by RANGE semantics, so ties can never disagree. The windowed
    * sum is an aggregated double (segment-tree vs running order), rounded
    * at 4 dp (the q01 rule); counts are exact.
    *
    * Scale shape: one exchange on user_id (the q08 window class); frame
    * evaluation is a per-partition ordered scan. */
  def q56RangeInterval(t: Tables): DataFrame =
    t.events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"),
        expr("count(*) OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)")
          .as("n_last_hour"),
        round(expr("sum(value) OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"), 4)
          .as("sum_last_hour"),
        expr("count(*) OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN CURRENT ROW AND INTERVAL 30 MINUTES FOLLOWING)")
          .as("n_next_half_hour"))

  /** q57: argmax/argmin aggregates — max_by/min_by with a composite
    * (value, event_id) ordering struct so ties at the extreme value
    * resolve to the larger/smaller id deterministically in BOTH engines
    * (the oracle ranks with the same two keys); the per-group extreme
    * values themselves are order-independent doubles (min/max, not sums)
    * and stay unrounded. One partial-aggregated exchange on event_type. */
  def q57ArgExtremes(t: Tables): DataFrame =
    t.events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      max(col("value")).as("max_value"),
      min(col("value")).as("min_value"),
      max_by(col("event_id"), struct(col("value"), col("event_id"))).as("argmax_id"),
      min_by(col("event_id"), struct(col("value"), col("event_id"))).as("argmin_id"),
      max_by(col("user_id"), struct(col("value"), col("event_id"))).as("argmax_user"))

  /** q59: date-arithmetic battery — month addition with end-of-month
    * clamping (Spark `add_months` ≡ DuckDB `+ INTERVAL n MONTH`, both
    * clamp Jan 31 + 1mo → Feb 28), day offsets, calendar field extraction
    * (dayofweek needs the +1 shift: DuckDB counts Sunday = 0, Spark
    * Sunday = 1), ISO week numbers, epoch-day round trips and
    * constructed dates. All integer/date logic — hash-checked exactly.
    * Zero shuffle (scan projection + one group for stability). */
  def q59DateArith(t: Tables): DataFrame =
    t.orders.select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("d"))
      .select(
        col("o_orderkey"),
        date_format(col("d"), "yyyy-MM-dd").as("d"),
        date_format(add_months(col("d"), 3), "yyyy-MM-dd").as("plus_3mo"),
        date_format(date_add(col("d"), 45), "yyyy-MM-dd").as("plus_45d"),
        dayofweek(col("d")).as("dow"),
        dayofyear(col("d")).as("doy"),
        weekofyear(col("d")).as("iso_week"),
        datediff(col("d"), lit("1970-01-01").cast("date")).as("epoch_days"),
        date_format(make_date(year(col("d")), lit(12), lit(31)), "yyyy-MM-dd")
          .as("year_end"))

  /** q60: array set-operation battery — intersect/union/except/overlap/
    * position over each document's half-split token arrays (the t16
    * halves: a natural pair of related-but-different arrays per row).
    * Both engines dedup set-op results but disagree on ELEMENT ORDER, so
    * every array output serializes sorted-joined (the q50 canonical-form
    * rule); counts and positions are integers. Zero shuffle. */
  def q60ArraySetOps(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        floor(size(col("toks")) / lit(2)).cast("int").as("h"))
      .select(col("doc_id"), col("toks"),
        slice(col("toks"), lit(1), col("h")).as("t1"),
        slice(col("toks"), col("h") + lit(1), size(col("toks")) - col("h")).as("t2"))
      .select(col("doc_id"),
        array_join(array_sort(array_intersect(col("t1"), col("t2"))), ",").as("inter_csv"),
        size(array_distinct(concat(col("t1"), col("t2")))).as("union_n"),
        array_join(array_sort(array_except(col("t1"), col("t2"))), ",").as("except_csv"),
        arrays_overlap(col("t1"), col("t2")).as("has_overlap"),
        array_position(col("toks"), "the").as("pos_the"))

  /** q62: the second map-HOF tranche — transform_keys, map_zip_with (the
    * per-key join of two maps) and map_from_entries, completing q50's
    * family. Same canonical serialization (sorted key:value CSV), so the
    * oracle reduces to plain string concatenation over the known literal
    * keys; the missing-key probe exercises element_at's NULL contract.
    * Zero shuffle. */
  def q62MapOps2(t: Tables): DataFrame = {
    def ser(m: Column): Column = array_join(
      transform(array_sort(map_keys(m)), k => concat(k, lit(":"), element_at(m, k))), ",")
    val m1 = map(
      lit("k"), get_json_object(col("props"), "$.k"),
      lit("type"), col("event_type"))
    val m2 = map(
      lit("k"), lit("x"),
      lit("type"), upper(col("event_type")))
    t.events.select(
      col("event_id"),
      ser(transform_keys(m1, (k, _) => upper(k))).as("upper_keys"),
      ser(map_zip_with(m1, m2, (_, a, b) =>
        concat(coalesce(a, lit("-")), lit("+"), coalesce(b, lit("-"))))).as("zipped"),
      ser(map_from_entries(array(
        struct(lit("a").as("k"), col("user_id").cast("string").as("v")),
        struct(lit("b").as("k"), col("event_type").as("v"))))).as("from_entries"),
      coalesce(element_at(m1, "missing"), lit("none")).as("miss_probe"))
  }

  /** q61: edit-distance / fuzzy-match battery — levenshtein against two
    * references plus the normalized similarity ratio 1 − lev/max(len)
    * (the fuzzy-entity-resolution score), and a prefix test. Distances
    * are exact integers; the ratio is one integer-derived IEEE division,
    * unrounded. Zero shuffle. */
  def q61EditDistance(t: Tables): DataFrame =
    t.customer.select(
      col("c_custkey"),
      levenshtein(col("c_name"), reverse(col("c_name"))).cast("int").as("lev_rev"),
      levenshtein(col("c_name"), col("c_mktsegment")).cast("int").as("lev_seg"),
      (lit(1.0) - levenshtein(col("c_name"), col("c_mktsegment")).cast("double") /
        greatest(length(col("c_name")), length(col("c_mktsegment"))).cast("double"))
        .as("sim_seg"),
      col("c_name").startsWith("Customer").as("starts_cust"))

  /** q63: gap-fill battery — fill-down (last non-null at-or-before, the
    * LOCF sensor/telemetry fill), fill-up (next non-null at-or-after) and
    * their coalesce, via `last/first(…, ignoreNulls)` over running row
    * frames. NULLs are planted deterministically (orderkey % 3) so both
    * engines see identical gaps; filled values are COPIES of existing
    * doubles (no arithmetic), so nothing rounds. DuckDB has no IGNORE
    * NULLS clause, so the oracle uses the count-of-non-nulls grouping
    * identity: rows at-or-after the same non-null share
    * count(v) OVER (…PRECEDING…), and max(v) within that group IS the
    * fill — spelled out in the oracle SQL.
    *
    * Scale form (round 11): the priority key has 5 values, so naive
    * `last(…, ignoreNulls)` windows would serialize the fill onto ≤5
    * reducers AT SCALE — and since round 11 the ENGINE owns that
    * property: [[graft.plans.RewriteLowCardWindow]] rewrites
    * `last(ignoreNulls)` trailing windows into the two-level
    * (order-key, value)-struct scan whenever the input is not provably
    * below the crossover, so the query is written in the plain window
    * form a user would write. Fill-up is the same trailing scan over the
    * negated key. At test SF the input is provably small and the naive
    * single-sort window (which wins there) runs as-is; the plan gate
    * accepts exactly that bypass class (PlanLint). */
  def q63GapFill(t: Tables): DataFrame = {
    val v = when(col("o_orderkey") % 3 === 0, lit(null))
      .otherwise(col("o_totalprice"))
    val wDown = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wUp = Window.partitionBy(col("o_orderpriority"))
      .orderBy(-col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .select(col("o_orderkey"), col("o_orderpriority"), v.as("v"))
      .withColumn("fill_down", last(col("v"), ignoreNulls = true).over(wDown))
      .withColumn("fill_up", last(col("v"), ignoreNulls = true).over(wUp))
      .withColumn("filled",
        coalesce(col("v"), col("fill_down"), col("fill_up")))
  }

  /** q64: ordered string aggregation — the deterministic LISTAGG surface:
    * sorted-distinct CSV and sorted-distinct array per group (plus min/
    * max/count). Sorting inside the aggregate is what makes a collected
    * list hash-checkable at all: collect_set order is partitioning-
    * dependent, array_sort pins it (serialized to CSV — the q60 rule: no
    * raw array columns in compared results). One partial-aggregated
    * exchange on a low-cardinality key. */
  def q64OrderedAgg(t: Tables): DataFrame =
    t.orders.groupBy(col("o_orderpriority")).agg(
      concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
        .as("statuses_csv"),
      size(collect_set(col("o_orderstatus"))).as("n_statuses"),
      min(col("o_orderstatus")).as("first_status"),
      max(col("o_orderstatus")).as("last_status"),
      count(lit(1)).as("n"))

  /** q67: lag/lead IGNORE NULLS — the navigation-function members q63's
    * gap-fill battery left uncovered (q63 exercises `first`/`last`
    * ignoreNulls running frames; lag/lead skip nulls with an OFFSET,
    * Spark's `lag(e, n, default, ignoreNulls)` surface). prev_nn = the
    * nearest non-null strictly before the row, next_nn = the nearest
    * strictly after — the neighbor lookup interpolation and
    * sensor-diff pipelines build on.
    *
    * Oracle: DuckDB (1.0) has no IGNORE NULLS, so the oracle derives the
    * same values from first principles — number the non-nulls rn = 1…n in
    * window order, count non-nulls strictly before/after each row with
    * the q63 running-count frames, and join back on rn. Values are
    * untouched doubles — hash-checked unrounded.
    *
    * Scale form (round 11): written as the plain `lag(v, 1, null,
    * ignoreNulls = true)` a user would write — since round 11
    * [[graft.plans.RewriteLowCardWindow]] owns this shape too (the
    * IGNORE-NULLS lag IS the strictly-before last-non-null scan, the
    * lead its mirror over the negated key), rewriting it into the
    * two-level struct scan whenever the input is not provably below the
    * crossover. At test SF the provably-small bypass keeps the naive
    * window, which wins there. */
  def q67NavIgnoreNulls(t: Tables): DataFrame = {
    val v = when(col("o_orderkey") % 3 === 0, lit(null))
      .otherwise(col("o_totalprice"))
    val wPrev = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
    val wNext = Window.partitionBy(col("o_orderpriority"))
      .orderBy(-col("o_orderkey"))
    t.orders
      .select(col("o_orderkey"), col("o_orderpriority"), v.as("v"))
      .withColumn("prev_nn",
        lag(col("v"), 1, null, ignoreNulls = true).over(wPrev))
      .withColumn("next_nn",
        lag(col("v"), 1, null, ignoreNulls = true).over(wNext))
  }

  /** q58: the approximate-sketch aggregates — HLL++ distinct counting
    * (`approx_count_distinct`) and quantile sketching
    * (`approx_percentile`), each beside its exact companion and relative
    * error, per event_type. These are THE 100 TB aggregates: exact
    * count-distinct needs a per-group hash set ∝ cardinality (the
    * two-phase expand q14 pays), HLL++ is a few KB per group mergeable
    * map-side; exact percentile buffers every value (q30), the quantile
    * sketch is bounded memory at a declared accuracy. Both engines
    * implement DIFFERENT sketches (Spark HLL++/Greenwald-Khanna vs
    * DuckDB's), so the estimates cannot hash-match — rows-only by the
    * d06 justification class, with the compensating spec pinning (1)
    * relative error within the sketches' published bounds against the
    * exact values computed in the SAME row, and (2) run-to-run
    * determinism (the sketches are deterministic folds of the data).
    * One partial-aggregated exchange; sketch buffers, not value sets,
    * cross the wire. */
  /** q68: the generator battery beyond plain explode (q18) — the three
    * remaining row-generating table functions of the §2.3 scalar/array
    * surface, unioned into one tagged long frame:
    *   - `posexplode`: position-aware explode — (pos, word) per token, the
    *     ordinal explode every sequence-aware pipeline step needs (p05/p09
    *     build offsets from exactly this);
    *   - `inline`: explode of an array<struct> with field unpacking — the
    *     nested-record flattener (here the structs are built in-plan by a
    *     two-arg transform, index included, so the oracle can rebuild them
    *     from scratch);
    *   - `stack`: the wide→long unpivot generator (n fixed measure
    *     columns → n rows) — q41's unpivot as a generator expression.
    * All three are codegen'd `Generate` nodes on one scan — zero shuffle
    * until the union's consumers; DuckDB replays posexplode/inline as
    * LATERAL generate_series subscripting and stack as a 2-way UNION ALL.
    * Schema normalized to (gen, p_partkey, k, sval, dval). */
  def q68Generators(t: Tables): DataFrame = {
    val toks = t.part.select(col("p_partkey"), split(lower(col("p_name")), " ").as("w"))
    val pe = toks
      .select(col("p_partkey"), posexplode(col("w")).as(Seq("pos", "word")))
      .select(lit("posexplode").as("gen"), col("p_partkey"), col("pos").cast("int").as("k"),
        col("word").as("sval"), lit(null).cast("double").as("dval"))
    val inl = toks
      .select(col("p_partkey"),
        inline(expr("transform(w, (x, i) -> struct(i AS idx, concat(x, '#', length(x)) AS tagged))")))
      .select(lit("inline").as("gen"), col("p_partkey"), col("idx").cast("int").as("k"),
        col("tagged").as("sval"), lit(null).cast("double").as("dval"))
    val st = t.part
      .select(col("p_partkey"),
        expr("stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE))").as(Seq("m", "v")))
      .select(lit("stack").as("gen"), col("p_partkey"), lit(-1).as("k"),
        col("m").as("sval"), col("v").as("dval"))
    pe.unionAll(inl).unionAll(st)
  }

  /** q69: distinct counts over window frames — the window form of q14's
    * COUNT(DISTINCT), which Spark's window functions do not accept
    * directly (`count(distinct …) OVER` is unsupported SQL). Two frames,
    * two scale-appropriate derivations:
    *   - cumulative distinct customers per priority: the FIRST-OCCURRENCE
    *     trick — row_number over (priority, customer) marks each
    *     customer's first order, and a running SUM of that 0/1 flag IS
    *     the running distinct count. O(n) state — the 100 TB shape (a
    *     per-row set materialization is quadratic in the partition);
    *   - sliding 10-row distinct customers: size(collect_set) over the
    *     BOUNDED frame — per-row cost ∝ frame width, fine at any corpus
    *     size because the frame is fixed.
    * Scale form: the priority key has 5 values, so naive windows would
    * shuffle all orders onto ≤5 reducers. Both frames are plain windows
    * that RewriteLowCardWindow routes by size: a provably small orders
    * scan keeps them, anything larger takes the two-level scan on
    * orderkey buckets — the running sum adds exact bucket offsets and
    * the 10-row frame borrows each bucket's leading 9 rows by position,
    * so both columns stay bit-identical to the naive form.
    * DuckDB replays both with native `count(DISTINCT …) OVER`, so the
    * equivalence of the derivations to the textbook semantics is exactly
    * what the oracle checks. Integer counts, unroundable. */
  def q69WindowDistinct(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy(col("o_orderpriority"), col("o_custkey"))
      .orderBy(col("o_orderkey"))
    val byPriority = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
    t.orders
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
      .withColumn("first_seen", (row_number().over(byCust) === 1).cast("long"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"),
        sum(col("first_seen")).over(byPriority.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("cum_distinct_cust"),
        size(collect_set(col("o_custkey")).over(byPriority.rowsBetween(-9,
          Window.currentRow))).cast("long").as("win10_distinct_cust"))
  }

  /** q70: interval union (gaps-and-islands merge) — per user, the total
    * wall-clock covered by the union of that user's event intervals and
    * the number of disjoint activity islands. The classic coverage query
    * (billed machine-hours, session coverage, CDC overlap) that a plain
    * sum-of-durations double-counts whenever intervals overlap.
    *
    * Each event's interval is [ts, ts + 60 + event_id % 240 seconds] — a
    * deterministic synthetic duration so the operator exercises genuine
    * overlaps at every SF. Island detection is the standard running-max
    * trick: sort a user's intervals by start, a row opens a new island iff
    * its start exceeds the max end seen so far (ROWS UNBOUNDED PRECEDING
    * TO 1 PRECEDING), and the island id is the running sum of open flags.
    * An island's coverage is max(end) − min(start) — within an island
    * every row's start is ≤ the running max end by construction, so the
    * island is one contiguous covered span.
    *
    * Exactness: all arithmetic is integer microseconds (unix_micros /
    * epoch_us) — no float touches a boundary. Determinism under ties: the
    * sort key is (start, end), and end is a function of (start, event_id
    * mod 240), so equal-key rows are interchangeable in both the running
    * max and the flag sum.
    *
    * Scale shape: ONE exchange on user_id feeds both window passes and
    * the island aggregation (same partitioning); per-user state is O(1)
    * per row (running max + running sum — never a per-row interval set).
    * At 100 TB this is the shape that survives: billions of events, any
    * per-user history length, no driver-side anything. */
  def q70IntervalUnion(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t.events.select(col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        (lit(60L) + pmod(col("event_id"), lit(240L))) * lit(1000000L)).as("e"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
    val islands = ev
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("opens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"),
        count(lit(1)).as("i_events"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_us"),
        sum(col("i_events")).as("n_events"),
        max(col("i_end") - col("i_start")).as("longest_island_us"))
  }

  /** q71: deterministic mode / median / discrete-quartile battery per
    * return flag — the order-statistics aggregates with every tie and
    * interpolation rule pinned so two engines cannot disagree:
    *   - mode_qty: NOT the engines' mode() (tie-break unspecified in
    *     both Spark and DuckDB) but the explicit groupBy-count +
    *     row_number over (count DESC, value ASC) — highest frequency,
    *     smallest value on ties;
    *   - median_price: exact interpolated percentile(0.5). Both engines
    *     sort and average the two middle values — (a+b)/2 is one IEEE
    *     add + one multiply on identical operands; round(·,4)+0.0
    *     absorbs nothing real but pins −0.0;
    *   - q25_qty: DISCRETE lower quartile — the value at ordered
    *     position ceil(n/4), computed by the explicit row_number rule
    *     (position (n+3) div 4 in exact integer arithmetic), not
    *     percentile_disc, whose boundary rule differs across engines.
    * Scale shape: mode is a two-level aggregation (map-side partials on
    * (flag, qty), then a tiny per-flag top-1); the discrete quartile is
    * one window pass over the flag partitioning; median is Spark's
    * exact-percentile aggregate (sort-based within partial buffers —
    * the declared cost of an EXACT median; the approx route is q58). */
  def q71ModeMedian(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFreq = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    val mode = t.lineitem.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byFreq))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_n"))
    val med = t.lineitem.groupBy(col("l_returnflag"))
      .agg((round(expr("percentile(l_extendedprice, 0.5)"), 4) + lit(0.0))
        .as("median_price"))
    // scale form (round-8 fix): the discrete quartile derives from the
    // (flag, quantity) HISTOGRAM — the value whose cumulative count range
    // contains position (n+3) div 4 — so the only window input is the
    // qty-cardinality-bounded histogram, never |lineitem| rows on a
    // 3-value partition key
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nAll = Window.partitionBy(col("l_returnflag"))
    val q25 = t.lineitem.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("qcnt"))
      .withColumn("cum", sum(col("qcnt")).over(wCum))
      .withColumn("n", sum(col("qcnt")).over(nAll))
      .where(expr("cum >= (n + 3) div 4 and cum - qcnt < (n + 3) div 4"))
      .select(col("l_returnflag"), col("l_quantity").as("q25_qty"))
    mode.join(med, "l_returnflag").join(q25, "l_returnflag")
  }

  /** q72: deterministic stratified hash sampling — the TABLESAMPLE a
    * 100 TB profile pass actually wants: membership is a pure function of
    * the key (md5 → 32-bit uniform, keep iff u mod m = 0), so the sample
    * is reproducible across engines, runs, and cluster layouts — unlike
    * TABLESAMPLE BERNOULLI (engine RNG) or .sample() (partition-layout
    * dependent), neither of which an independent engine can replay.
    * Stratified: the modulus (= inverse sampling rate) varies by order
    * priority — urgent orders kept at 1/2, high at 1/5, rest at 1/10 —
    * the standard move when rare strata would otherwise vanish from a
    * uniform sample. Emits per-stratum sample count, the Horvitz–Thompson
    * size estimate n_sampled·m (exact integers), the true count beside it
    * (so the sampling error is visible), and the sampled value mass
    * (rounded — an aggregated double).
    *
    * Scale shape: the filter is scan-local (one md5 per row, pushed to
    * the scan stage); everything after operates on the SAMPLE — which is
    * the entire point: the full table is touched once, cheaply, and the
    * aggregation exchange carries ~n/m rows. */
  def q72HashSample(t: Tables): DataFrame = {
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val m = when(col("o_orderpriority") === "1-URGENT", 2L)
      .when(col("o_orderpriority") === "2-HIGH", 5L)
      .otherwise(10L)
    val sampled = t.orders
      .select(col("o_orderpriority"), col("o_totalprice"), u.as("u"), m.as("m"))
      .where(pmod(col("u"), col("m")) === 0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"), max(col("m")).as("rate_mod"),
        (round(sum(col("o_totalprice")), 2) + lit(0.0)).as("sampled_value"))
    val actual = t.orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_actual"))
    sampled.join(actual, "o_orderpriority")
      .select(col("o_orderpriority"), col("rate_mod"), col("n_sampled"),
        (col("n_sampled") * col("rate_mod")).as("est_total"),
        col("n_actual"), col("sampled_value"))
  }

  /** q73: rolling regression — the 30-row sliding OLS slope of
    * l_discount against l_quantity per return flag, ordered by ship
    * date: the moving-trend window the time-series family (q09 running,
    * q56 interval frames, q63 gap-fill) lacked. slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from five windowed sums sharing ONE
    * frame over ONE exchange.
    *
    * Float discipline — the lesson this operator carries: rounding does
    * NOT absorb sliding-sum association noise reliably (a first cut with
    * y = raw double discount diverged from the oracle on 0.008 % of rows
    * at round-6 boundaries — segment-tree vs running accumulation, the
    * q56 finding, amplified by the slope ratio). So BOTH regression
    * inputs are integerized: x = l_quantity (integer-valued), y =
    * l_discount in integer percent (round(d·100) — TPC-H discounts are
    * exact hundredths, so this is lossless). Every windowed sum is then
    * IEEE-exact in any accumulation order, the slope is one division on
    * identical operands, and round(6) merely formats. Degenerate windows
    * (all x equal → denominator 0) emit NULL via a guarded division in
    * both engines. */
  def q73RollingRegression(t: Tables): DataFrame = {
    val x = col("l_quantity")
    // round(·, 0) yields an integer-VALUED double in both engines — sums
    // over it are exact without any cast gymnastics
    val y = round(col("l_discount") * lit(100), 0)
    // the synthetic lineitem carries DUPLICATE (orderkey, linenumber)
    // rows, so that triple is not a total order and tied rows would get
    // engine-dependent ROWS frames. Extending the order with (x, y)
    // makes any remaining tie a row identical in every column that
    // influences the output — swapping such rows permutes identical
    // output rows, so the result multiset is deterministic anyway.
    //
    // Scale form: the flag key has 3 values, so a naive window is a
    // ≤3-way serial sort of all of lineitem. RewriteLowCardWindow keeps
    // the plain window over a provably small lineitem and otherwise
    // buckets by l_shipdate (the leading sort key, ~2,500 distinct days
    // at any SF): each day finishes independently after borrowing the 29
    // rows that globally precede it — the same frame rows in the same
    // order, so even the double sums are bit-identical.
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"))
      .rowsBetween(-29, Window.currentRow)
    t.lineitem
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), x.as("x"), y.as("y"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        count(lit(1)).over(w).cast("double").as("n"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (round(
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)), 6)
          + lit(0.0)).as("slope30"))
  }

  /** q74: windowed order statistics — discrete median (and min/max) of
    * l_quantity over the trailing 30-row frame: the robust-trend
    * companion to q73's OLS slope (a median is outlier-immune where a
    * rolling mean is not). Spark's window functions accept no percentile
    * aggregate, so the median derives EXPLICITLY: collect the bounded
    * frame, sort it, take element ⌈n/2⌉ — the discrete lower median,
    * the same integer rule rendered into both engines (DuckDB's native
    * `median` interpolates, so the oracle replays the list rule
    * instead, making the boundary convention ours, not an engine's).
    *
    * Scale shape: per-row cost ∝ the FIXED frame width (collect_list
    * over 30 rows — bounded state, the q69 sliding-frame discipline;
    * a growing frame would be quadratic and is deliberately absent).
    * The frame is a plain window that RewriteLowCardWindow keeps over a
    * provably small lineitem and otherwise buckets by l_shipdate (the
    * leading sort key), so parallelism is day-count-bounded instead of
    * the 3-value flag key; the frame's sorted multiset is
    * position-borrowed-exact, hence bit-identical.
    * Values are integers end to end — nothing rounds. */
  def q74WindowMedian(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(-29, Window.currentRow)
    t.lineitem
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        sort_array(collect_list(col("l_quantity")).over(w)).as("frame"))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        element_at(col("frame"), ((size(col("frame")) + 1) / 2).cast("int"))
          .as("med30"),
        element_at(col("frame"), 1).as("min30"),
        element_at(col("frame"), size(col("frame"))).as("max30"))
  }

  /** q75: Z-order layout keys — the multi-dimension data-layout operator
    * Spark has no native verb for (Delta/Iceberg OPTIMIZE ZORDER's core):
    * interleave the bits of two bucketed dimensions into one sort key so
    * that ANY contiguous key range bounds BOTH dimensions — the property
    * that makes min/max file statistics prune two-predicate scans where
    * a single-column sort prunes only one. Derivation is pure integer
    * arithmetic (10 bits per dim → 20-bit key, shift/mask/scale sums —
    * IEEE-irrelevant, engine-exact).
    *
    * Output is the layout AUDIT, not the rows: per 1024-key Z-block
    * (= an aligned 32×32 tile of the bucket grid, by construction) the
    * row count and each dimension's min/max bucket — the table whose
    * spec-pinned law is the pruning claim itself: every block spans ≤ 32
    * buckets in BOTH dims (a key-sorted single-column layout spans the
    * full 1024 in the other dim). Writing the layout is then
    * `repartitionByRange(zkey)` + sortWithinPartitions — the p14 move
    * with this key.
    *
    * Scale shape: key derivation is scan-local; the audit is one
    * partial-agg exchange on zblock (≤ 1024 groups). */
  def q75ZorderLayout(t: Tables): DataFrame = {
    val bx = pmod(col("o_custkey"), lit(1024L))
    val by = least(floor(col("o_totalprice") / lit(1000.0)).cast("long"), lit(1023L))
    def interleave(x: Column, y: Column): Column =
      (0 until 10).map { i =>
        shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
          shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
    t.orders
      .select(bx.as("bx"), by.as("by"))
      .select(col("bx"), col("by"), interleave(col("bx"), col("by")).as("zkey"))
      .groupBy(expr("zkey div 1024").as("zblock"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("bx")).as("min_cust_b"), max(col("bx")).as("max_cust_b"),
        min(col("by")).as("min_price_b"), max(col("by")).as("max_price_b"))
  }

  def q58ApproxSketches(t: Tables, pctAccuracy: Int = 10000): DataFrame =
    t.events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("user_id")).as("approx_users"),
      expr("percentile(value, 0.9)").as("exact_p90"),
      percentile_approx(col("value"), lit(0.9), lit(pctAccuracy)).as("approx_p90"))
      .select(col("event_type"), col("n"), col("exact_users"), col("approx_users"),
        round(abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users"), 6).as("users_rel_err"),
        round(col("exact_p90"), 4).as("exact_p90"),
        round(col("approx_p90"), 4).as("approx_p90"))

  /** q76: URL parsing battery — `parse_url` over a deterministically
    * synthesized URL column (protocol, host, path, whole query string,
    * one extracted query parameter, fragment). Web-scrape curation keys
    * almost everything on these parts (per-domain dedup/mixing/robots
    * audits), and Spark's operator for them is `parse_url`
    * (java.net.URI-based, codegen'd scan-local projection — zero
    * shuffle).
    *
    * Oracle discipline: the URL is BUILT from table columns by plain
    * concatenation, so the oracle emits each part by construction
    * (ground truth) while the engine side must actually parse — the
    * test is that parse ∘ build = identity on every row. All outputs
    * are exact strings; nothing rounds. */
  def q76UrlParse(t: Tables): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/doc-"), col("doc_id"),
      lit("?lang="), col("lang"), lit("&id="), col("doc_id"), lit("#sec-1"))
    t.documents
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        expr("parse_url(url, 'PROTOCOL')").as("proto"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'id')").as("q_id"),
        expr("parse_url(url, 'REF')").as("frag"))
  }

  /** q77: MERGE/upsert semantics — the snapshot-maintenance operator
    * (Delta/Iceberg `MERGE INTO`'s relational core) Spark has no native
    * verb for over plain parquet: target ⟗ source on the key, matched
    * rows take the source's values (`update`), source-only rows enter
    * (`insert`), target-only rows persist (`keep`). One full-outer hash
    * join on the key — the exact shape a table-format MERGE executes
    * after file pruning — with the action column making the decision
    * auditable (and hash-checkable) row by row.
    *
    * Prices are carried as exact integer cents (round(·×100) of doubles
    * that ARE exact hundredths) so no float formatting can diverge.
    * Scale shape: both sides shuffle on the key once; AQE broadcasts the
    * source when it is dim-sized — the common CDC-batch case. */
  /** q79: deterministic pagination — ORDER BY with EXPLICIT null placement
    * + LIMIT/OFFSET (the result-page surface; Spark and DuckDB DISAGREE on
    * default null ordering — NULLS FIRST vs LAST on ASC — so the explicit
    * clause is what makes a paged API portable at all). The order is made
    * total by the unique id, so page 3 is THE SAME 50 rows in any engine,
    * run or partitioning; identical SQL text runs as the oracle (the q44
    * convention).
    *
    * Scale note, spec-pinned: OFFSET is a global-order prefix — the
    * engine must produce the first offset+limit rows of the total order
    * (TakeOrdered-class work ∝ offset+limit, fine for result pages, wrong
    * for deep scans); the deep-pagination path is KEYSET pagination
    * (WHERE (v, id) > last-seen, the same total order as a filter), which
    * RelationalSpec proves returns the identical page. */
  def q79Pagination(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(q79Sql)
  }

  private[graft] val q79Sql: String =
    """SELECT event_id,
      | CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      |FROM events
      |ORDER BY v ASC NULLS FIRST, event_id
      |LIMIT 50 OFFSET 100""".stripMargin

  /** q80: three-valued-logic membership battery — NOT IN vs NOT EXISTS
    * against a subquery that CONTAINS a NULL: `x NOT IN (…, NULL)` is
    * UNKNOWN for every x (x ≠ NULL can never be TRUE), so the NOT IN
    * count is 0 while the NOT EXISTS rewrite returns the real complement
    * — the classic silent-wrong-answer trap in any SQL engine, pinned
    * here as an engine-semantics contract (both engines must agree on
    * all four counts, and the spec asserts the trap actually fires).
    * Identical SQL text as the oracle. At scale: NOT EXISTS plans as a
    * null-aware-free left-anti hash join; NOT IN with a nullable probe
    * forces a null-aware anti join — semantics, not a plan accident. */
  def q80NullMembership(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(q80Sql)
  }

  private[graft] val q80Sql: String =
    """WITH probe AS (
      | SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL ELSE o_custkey END AS k
      | FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT
      | (SELECT count(*) FROM customer
      |   WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
      | (SELECT count(*) FROM customer c
      |   WHERE NOT EXISTS (SELECT 1 FROM probe WHERE k = c.c_custkey)) AS n_not_exists,
      | (SELECT count(*) FROM customer
      |   WHERE c_custkey IN (SELECT k FROM probe)) AS n_in,
      | (SELECT count(*) FROM customer c
      |   WHERE EXISTS (SELECT 1 FROM probe WHERE k = c.c_custkey)) AS n_exists""".stripMargin

  /** q81: time-weighted average — the telemetry/finance TWAP: each
    * event's value HOLDS until the user's next event, so the average
    * weights every value by how long it was current (a plain avg() calls
    * a sensor that reports once an hour and once a millisecond the same
    * — the sampling-rate bias TWAP exists to remove). Per user: one
    * lead(ts) window pass for the hold durations, then ONE exchange-
    * sharing rollup.
    *
    * Float discipline: value×duration sums are the q73 lesson amplified
    * (μs durations ~10⁹ × 10⁵ rows overflow a long and noise a double),
    * so both factors integerize — cents = round(value·100) (exact
    * hundredths), duration in exact microseconds — and the products
    * accumulate as DECIMAL(38,0), which both engines sum EXACTLY in any
    * order. The only doubles are the final correctly-rounded
    * decimal→double casts and ONE division, rounded 6 dp. */
  def q81TimeWeightedAvg(t: Tables): DataFrame = timeWeightedAvg(t.events)

  /** See [[q81TimeWeightedAvg]]; core over any (user_id, event_id, ts,
    * value) frame. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .where(col("next_ts").isNotNull) // the last observation has no hold
      .select(col("user_id"), col("cents"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).as("dur_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_holds"),
        sum(col("dur_us")).as("total_us"),
        sum(col("cents").cast("decimal(38,0)") * col("dur_us").cast("decimal(38,0)"))
          .as("wsum"))
      .select(col("user_id"), col("n_holds"), col("total_us"),
        (round(col("wsum").cast("double") /
          col("total_us").cast("double") / 100.0, 6) + lit(0.0)).as("twa"))
  }

  /** q82: period-over-period comparison — weekly event counts per type
    * with the previous period's count, absolute delta and percent change:
    * the WoW/MoM reporting shape every analytics deployment runs (q65
    * cohorts users; q82 trends the activity series itself). One
    * aggregation exchange; the lag window rides the tiny aggregated
    * series (|types| × |weeks| rows), never the events.
    *
    * Exactness: weeks truncate to Monday (the q65 rule) and serialize as
    * ISO date strings (the q23/q59 rule); counts and deltas are exact
    * longs; pct_change is one division of exact longs rounded 6 dp with
    * the first period NULL via the lag — both engines agree row for
    * row. */
  def q82PeriodOverPeriod(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("wk"))
    t.events
      .select(col("event_type"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .groupBy(col("event_type"), col("wk"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("event_type"), date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta"),
        (round((col("n") - col("prev_n")).cast("double") /
          col("prev_n").cast("double"), 6) + lit(0.0)).as("pct_change"))
  }

  /** q83: event-transition matrix — per (event_type → next event_type)
    * within a user's timeline, the observed count and the row-normalized
    * transition probability: the first-order Markov view of behavior
    * (q66 asks "did the ordered funnel complete"; q83 asks "what follows
    * what, how often" — the input to path analysis and next-action
    * models). ONE user_id exchange feeds the lead() pass; the transition
    * aggregation output is |types|² — bounded at any event volume.
    *
    * Exactness: the timeline order is total ((ts, event_id)), counts
    * exact longs, the probability one division of exact longs rounded
    * 6 dp (row sums derive FROM the transition table, no rescan). */
  def q83TransitionMatrix(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("event_type")).agg(sum(col("n")).as("row_n"))
    trans.join(totals, Seq("event_type"))
      .select(col("event_type"), col("next_type"), col("n"),
        (round(col("n").cast("double") / col("row_n").cast("double"), 6)
          + lit(0.0)).as("p"))
  }

  def q77MergeUpsert(t: Tables): DataFrame = {
    val target = t.orders.where(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("key"),
        round(col("o_totalprice") * 100, 0).cast("long").as("t_cents"))
    val source = t.orders.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("key"),
        round(col("o_totalprice") * 110, 0).cast("long").as("s_cents"))
    target.join(source, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("t_cents").isNotNull && col("s_cents").isNotNull, lit("update"))
          .when(col("t_cents").isNull, lit("insert"))
          .otherwise(lit("keep")).as("action"),
        coalesce(col("s_cents"), col("t_cents")).as("cents"))
  }
}
