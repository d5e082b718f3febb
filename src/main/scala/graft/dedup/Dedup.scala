package graft.dedup

import graft.{Memo, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface.
  *
  * Five families, by cost/fidelity:
  *   - exact: content-hash groupBy (one shuffle on the hash); two keeper
  *     rules — d01 smallest-id, d11 best-copy (longest text)
  *   - incremental exact: batch admission against the existing corpus'
  *     fingerprint set (d08) — the production ingestion flow
  *   - exact n-gram Jaccard: prefix-filtered inverted-index join (ssjoin/
  *     All-Pairs) — the *baseline/oracle*: exact results, candidates only
  *     from each doc's rare-shingle prefix, so stop-shingles no longer
  *     explode the candidate set (they sort into the suffixes); still an
  *     exact all-candidates verify, so d03 remains the cheap path at scale
  *   - MinHash+LSH: the 100 TB path — fixed-size signatures (one shuffle),
  *     banded bucketing (one shuffle on (band, key)), exact verification of
  *     candidates only
  *   - SimHash: 64-bit sketch, hamming-banded candidate pairs
  *
  * All hashing is xxhash64 (Spark built-in, codegen'd); no UDFs anywhere —
  * signatures and bands are pure Column expression trees.
  */
object Dedup {

  /** d01: exact dedup groups over normalized content. Every group keeps its
    * smallest doc_id; `n_copies` > 1 marks exact duplicates. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** d16: Unicode-canonical exact dedup — d01's groups keyed on the NFC
    * normalization of the text, so composed and decomposed encodings of
    * the same visible content ("é" as U+00E9 vs "e"+U+0301 — endemic in
    * web scrapes that mix editors, OSes and CMS exports) land in ONE
    * group where d01's byte-keyed fingerprint sees two. The normalization
    * runs as the native codegen expression
    * [[graft.plans.NfcNormalize]] (a UDF here would break whole-stage
    * codegen on the corpus scan); already-normalized text takes the
    * allocation-free `isNormalized` fast path, so on clean ASCII corpora
    * d16 costs d01 plus one char scan per row. Same exchange shape as d01:
    * fingerprint computed map-side, one (hash, id) exchange. */
  def exactUnicode(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        TextFns.fingerprint(graft.plans.NfcNormalize.nfcCol(col("text"))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** d25: aggressively-canonicalized exact dedup — d01's groups keyed on
    * a CANONICAL text form: lowercase, every digit run collapsed to '0',
    * every non-alphanumeric run (punctuation AND whitespace) collapsed to
    * one space, trimmed. Catches the trivial-variant duplicates byte
    * fingerprints are structurally blind to — re-punctuated syndications,
    * "v1.2" vs "v1.3" build-number spins, date-stamped boilerplate,
    * smart-quote vs ASCII-quote exports — the standard "fuzzy exact"
    * dedup rule between d01's byte equality and d02's shingle Jaccard
    * (far cheaper than shingling: still one map-side fingerprint and one
    * (hash, id) exchange, d01's exact shape). d16 unifies ENCODINGS of
    * identical visible text; d25 unifies EDITS that preserve the word
    * stream. Every d01 duplicate pair is a d25 duplicate pair by
    * construction (canon is a pure function of the byte stream) — the
    * subset law DedupSpec pins, the d20 discipline. RE2-safe regexes
    * (char classes only), so Java and DuckDB agree char-for-char. */
  def exactCanonical(docs: DataFrame): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "0"),
      "[^a-z0-9]+", " "))
    docs
      .select(col("doc_id"), md5(canon).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** d02's verified pair frame, through [[Memo]]: the evidence report
    * (d17), the syndication matrix (p20) and ad-hoc audits would otherwise
    * each re-pay the prefix-filter ssjoin. Benched as
    * `_shared_jaccard_pairs`. */
  def sharedJaccardPairs(docs: DataFrame, threshold: Double = 0.8, k: Int = 3): DataFrame =
    Memo.frame("Dedup.jaccardPairs", docs, threshold, k)(ngramJaccardPairs(docs, threshold, k))

  /** d13's weighted-pair frame, through [[Memo]]: d13 and d40's exact
    * route ask for the identical frame, so the family's most expensive
    * verification is paid once. Benched as `_shared_weighted_pairs`. */
  def sharedWeightedJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                                 k: Int = 3): DataFrame =
    Memo.frame("Dedup.weightedPairs", docs, threshold, k)(
      weightedJaccardPairs(docs, threshold, k))

  /** d17: near-dup evidence report — for every d02 pair, the RAREST
    * shingles the two documents share (rank by corpus df, then shingle;
    * top `k` serialized). p12 is the audit artifact for decontamination
    * ("what exactly leaked"); this is the one for dedup review queues
    * ("WHY are these two considered duplicates") — boilerplate-driven
    * pairs show chrome shingles as their evidence and get threshold/
    * weighting fixes (d13), content-driven pairs show distinctive text
    * and get removed with confidence. Fully hash-checkable: the rank
    * orders on exact integers with a total tiebreak.
    *
    * Scale shape: corpus-wide rarity comes from the memoized HASHED
    * [[sharedShingles]] frame (paid once per session, shared with
    * d02/d03/d07 — the corpus is never string-shingled for this report);
    * the human-readable STRING shingles are exploded only for
    * pair-INCIDENT docs (a semi-join against the tiny doc set the pair
    * frame touches), and each string maps to its hash by re-deriving
    * [[TextFns.shingleHashesOfTokens]]'s multi-arg xxhash64 from the
    * split tokens (tokens are space-free, so the split is a clean
    * inverse; the < shingleK-token fallback hashes the joined string,
    * same as the hashed path). The per-pair top-k is one pair-keyed
    * window over evidence rows only (shared shingles of actual pairs —
    * never the corpus). */
  def pairEvidence(docs: DataFrame, threshold: Double = 0.8,
                   k: Int = 3, shingleK: Int = 3): DataFrame = {
    val pairs = sharedJaccardPairs(docs, threshold, shingleK)
      .select(col("d1"), col("d2"), col("jaccard"))
    val pairDocs = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val sh = docs.join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(TextFns.shingles(col("text"), shingleK)).as("shingle"))
      .distinct()
      .withColumn("toks", split(col("shingle"), " "))
      .withColumn("h",
        when(size(col("toks")) === shingleK,
          xxhash64((0 until shingleK).map(j => element_at(col("toks"), j + 1)): _*))
          .otherwise(xxhash64(col("shingle"))))
      .select(col("doc_id"), col("shingle"), col("h"))
    // SIZE-ROUTED document frequency (the StatsRoute discipline — r16,
    // closing r15's measured-and-deferred note): the df aggregate is the
    // one remaining corpus-VOCABULARY-wide exchange on this path. When the
    // plan PROVES the corpus small (bench/test scale), the plain aggregate
    // is cheaper — r15 measured the restriction NEGATIVE at sf0.1 (2.2 →
    // 3.1 s same-box: the extra key-set job + broadcast cost more than the
    // narrow exchange saves). Above the exact-route ceiling (or when the
    // size is UNKNOWN) the vocabulary exchange is unbounded at 100 TB, so
    // restrict the aggregation's INPUT to the candidates' shingle hashes
    // with a broadcast semi-join BEFORE the groupBy: every corpus
    // occurrence of a surviving hash is still counted (the semi-join drops
    // whole groups, never rows within a group), so each kept `df` value is
    // identical — and the dropped groups were discarded by the inner
    // `join(df, "h")` below anyway. Conf-flip spec pins both routes equal.
    val dfSource = sharedShingles(docs, shingleK)
    val dfInput =
      if (graft.plans.StatsRoute.exactAffordable(docs)) dfSource
      else {
        val candidateHashes = sh.select(col("h")).distinct()
        dfSource.join(broadcast(candidateHashes),
          dfSource("shingle") === candidateHashes("h"), "left_semi")
      }
    val df = dfInput
      .groupBy(col("shingle").as("h")).agg(count(lit(1)).as("df"))
    val shared = sh.select(col("doc_id").as("d1"), col("shingle"), col("h"))
      .join(broadcast(pairs), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .join(df, Seq("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2")).orderBy(col("df"), col("shingle"))
    shared
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .groupBy(col("d1"), col("d2"), col("jaccard"))
      .agg(concat_ws("|", transform(
        array_sort(collect_list(struct(col("rk"), col("shingle")))),
        s => s.getField("shingle"))).as("evidence"))
      .select(col("d1"), col("d2"), col("jaccard"), col("evidence"))
  }

  /** d29: nearest duplicate — for every document that has at least one
    * d02 near-dup, its single most-similar counterpart (max jaccard,
    * neighbor-id tiebreak): the "show me THE closest copy" lookup a
    * review queue renders next to each flagged doc (d17 explains WHY a
    * pair matched; d29 picks WHICH neighbor matters when a doc sits in
    * several pairs). Rides the memoized [[sharedJaccardPairs]] frame —
    * zero new corpus work; the symmetric expansion doubles only the tiny
    * pair frame and the pick is one pair-keyed window row_number. Exact:
    * jaccard is d02's one-division double, the (jaccard DESC, neighbor)
    * order total. */
  def nearestDup(docs: DataFrame, threshold: Double = 0.8, k: Int = 3): DataFrame = {
    val pairs = sharedJaccardPairs(docs, threshold, k)
      .select(col("d1"), col("d2"), col("jaccard"))
    val sym = pairs.select(col("d1").as("doc_id"), col("d2").as("nearest"), col("jaccard"))
      .unionAll(pairs.select(col("d2").as("doc_id"), col("d1").as("nearest"), col("jaccard")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("nearest").asc)
    sym.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("nearest"), col("jaccard"))
  }

  /** d30: transitivity-gap audit — how much the d07 closure ADDS beyond
    * pairwise similarity: among all two-path doc pairs (a–m–c with both
    * legs ≥ τ), how many are themselves a direct pair and how many merge
    * ONLY through the chain. A high gap share means clusters grow by
    * chaining (the classic near-dup drift risk: a→b→c with a,c genuinely
    * different), which argues for a higher τ or cluster-diameter review
    * (d26 samples exactly those clusters). Rides the memoized d02 pair
    * frame — pair-keyed joins only, work ∝ Σdeg², never corpus-shaped.
    * One exact-integer summary row; share in ppm (the q91 rule). */
  def transitivityGap(docs: DataFrame, threshold: Double = 0.8, k: Int = 3): DataFrame = {
    val pairs = sharedJaccardPairs(docs, threshold, k).select(col("d1"), col("d2"))
    val sym = pairs.unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    val twoPath = sym.as("x").join(sym.as("y"), col("x.d2") === col("y.d1"))
      .where(col("x.d1") < col("y.d2"))
      .select(col("x.d1").as("d1"), col("y.d2").as("d2")).distinct()
    val closed = twoPath.join(pairs, Seq("d1", "d2"), "left_semi")
    twoPath.agg(count(lit(1)).as("n_two_path"))
      .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
      .select(col("n_pairs"), col("n_two_path"), col("n_closed"),
        (col("n_two_path") - col("n_closed")).as("n_chain_only"),
        when(col("n_two_path") === 0, lit(null).cast("long"))
          .otherwise(expr("(n_two_path - n_closed) * 1000000 div n_two_path"))
          .as("gap_ppm"))
  }

  /** d18: dedup threshold sensitivity curve — for a grid of thresholds,
    * how many near-dup pairs each would yield: the tuning artifact a
    * pipeline consults BEFORE committing to a τ (a cliff between 0.8 and
    * 0.85 means the corpus has a boilerplate band right there; a flat
    * curve means τ barely matters). One d02 run at the grid's minimum
    * feeds every grid point — pairs are computed once, the curve is a
    * grid-explode + count over the pair frame (∝ pairs at the LOOSEST
    * threshold, the whole cost). Exact: jaccard is the one-division
    * double, grid thresholds are literals, counts integers. */
  def thresholdCurve(docs: DataFrame,
                     grid: Seq[Double] = Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95),
                     k: Int = 3): DataFrame = {
    require(grid.nonEmpty, "threshold grid must be non-empty")
    require(grid.distinct.size == grid.size, s"threshold grid has duplicates: $grid")
    val base = grid.min
    val pairs = ngramJaccardPairs(docs, base, k)
    import docs.sparkSession.implicits._
    val gf = grid.toDF("threshold")
    val counts = pairs
      .select(explode(array(grid.map(lit(_)): _*)).as("threshold"), col("jaccard"))
      .where(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    gf.join(counts, Seq("threshold"), "left").na.fill(0L, Seq("n_pairs"))
  }

  /** d19: edit-distance near-dup pairs — fuzzy dedup for SHORT texts
    * (titles, queries, captions, code lines), where shingle Jaccard (d02)
    * degenerates: a 6-word title has 4 trigram shingles and one edited
    * word kills half of them, while its edit distance is one word. Emits
    * (d1 < d2, dist ≤ maxDist) with a normalized similarity.
    *
    * Exact by construction: |len(a) − len(b)| lower-bounds the edit
    * distance, so blocking on length buckets of width maxDist+1 and
    * probing each doc's bucket ± 1 can never lose a qualifying pair (the
    * d02 prefix-filter argument, instantiated on lengths), and each pair
    * survives the block join exactly once (the probe side fans out ×3,
    * the home side stays single). Candidates verify with the THRESHOLDED
    * Levenshtein kernel — O(len·maxDist) per pair, not O(len²), and
    * far-apart candidates exit early with −1. Same-length skew (a hot
    * bucket of equal-length boilerplate) is AQE skew-join territory;
    * the scale route for the verify stage stays d03/d14 when texts are
    * long enough to shingle. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 32): DataFrame =
    // selfOrdered pushes d1 < d2 BELOW the distance computation: the self
    // cross otherwise verifies every unordered pair twice before the final
    // filter keeps one orientation
    editCore(docs, maxDist)
      .select(col("d1"), col("d2"), col("dist"),
        when(greatest(col("l1"), col("l2")) === 0, lit(1.0))
          .otherwise(lit(1.0) - col("dist").cast("double")
            / greatest(col("l1"), col("l2")).cast("double")).as("sim"))

  /** d19's pair frame, through [[Memo]]: d19, d20's `edit` method and
    * d22's closure all consume the same (docs, maxDist) pair set, so the
    * bucket join + Levenshtein verify runs once, not once per consumer. */
  def sharedEditPairs(docs: DataFrame, maxDist: Int = 32): DataFrame =
    Memo.frame("Dedup.editPairs", docs, maxDist)(editDistancePairs(docs, maxDist))

  /** d28: edit-distance threshold sensitivity curve — pairs and involved
    * documents per max-distance cut, d18's tuning artifact for the
    * SHORT-TEXT family (d18 sweeps Jaccard τ for shingle dedup; d28
    * sweeps the edit budget for d19/d21/d22): a cliff between two cuts
    * is a systematic edit-family at that distance (template fills,
    * version strings), and the doc count prices what each budget would
    * pull into clustering. ONE d19 run at the grid MAXIMUM feeds every
    * point (the d18 rule — each pair carries its exact distance, so
    * smaller cuts are filters, never re-verifies).
    *
    * Exactness: the pair frame is d19's (exact by the length-band
    * pigeonhole), counts are exact longs; the oracle nests the
    * blocking-free brute-force SQL. Scale shape: the |grid| × pairs
    * range join is broadcast-small on the grid side; output ∝ |grid|. */
  def editThresholdCurve(docs: DataFrame,
                         grid: Seq[Int] = Seq(4, 8, 16, 24, 32)): DataFrame = {
    require(grid.nonEmpty, "empty threshold grid")
    import docs.sparkSession.implicits._
    val pairs = sharedEditPairs(docs, grid.max)
    val g = broadcast(grid.toDF("max_dist"))
    val nPairs = g.join(pairs, col("dist") <= col("max_dist"), "left")
      .groupBy(col("max_dist"))
      .agg(count(col("dist")).as("n_pairs"))
    val sides = pairs.select(col("dist"), col("d1").as("doc"))
      .unionByName(pairs.select(col("dist"), col("d2").as("doc")))
    val nDocs = g.join(sides, col("dist") <= col("max_dist"), "left")
      .groupBy(col("max_dist"))
      .agg(countDistinct(col("doc")).as("n_docs"))
    nPairs.join(nDocs, Seq("max_dist"))
  }

  /** The engine of [[editDistancePairs]]. Candidate pruning is two EXACT
    * filters before the Levenshtein verify, each a proved lower bound on the
    * distance, so no qualifying pair is ever lost:
    *   1. length bands (∣Δlen∣ ≤ maxDist) via the bucket block join;
    *   2. hashed char-BIGRAM histogram L1 ≤ 6·maxDist
    *      ([[graft.plans.EditFilter]] — dist ≥ L1/6): on a same-language
    *      corpus the length bands alone are weakly selective (most docs
    *      share the few populated bands), and without this the verify paid
    *      a bounded Levenshtein on essentially every banded pair.
    * Histograms are computed scan-side (once per doc row, before the probe
    * fan-out), so the per-candidate cost for the rejected majority is a
    * 128-byte L1 inside codegen. Only d1 < d2 is kept BEFORE the verify,
    * halving Levenshtein work (each unordered pair survives the block
    * join in both orientations). */
  private def editCore(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist=$maxDist must be >= 1")
    import graft.plans.EditFilter
    val width = maxDist + 1
    val home = docs.select(col("doc_id").as("d2"), col("text").as("t2"),
      length(col("text")).as("l2"),
      EditFilter.bigramHist(col("text")).as("h2"))
      .withColumn("bucket", floor(col("l2") / width))
    val probeBase = docs.select(col("doc_id").as("d1"), col("text").as("t1"),
      length(col("text")).as("l1"),
      EditFilter.bigramHist(col("text")).as("h1"))
    // the verify work (histogram L1 + banded Levenshtein per candidate) runs
    // INSIDE the broadcast-join probe stage, which otherwise streams straight
    // from the scan: a small corpus in a single parquet row group would pin
    // the whole O(candidates) stage to one core (row groups are the scan's
    // splitting floor, so file-split tuning can't help). Round-robin the
    // probe side up to the session's shuffle width ONLY when the scan is
    // narrower — at real scale the input already carries enough partitions
    // and no shuffle is added.
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val probeWide =
      if (probeBase.rdd.getNumPartitions < parts) probeBase.repartition(parts)
      else probeBase
    val probe = probeWide
      .select(col("d1"), col("t1"), col("l1"), col("h1"),
        explode(array((-1 to 1).map(i => floor(col("l1") / width) + i): _*))
          .as("bucket"))
    probe.join(home, Seq("bucket"))
      .where(col("d1") < col("d2"))
      .where(abs(col("l1") - col("l2")) <= maxDist)
      .where(EditFilter.histL1(col("h1"), col("h2")) <= EditFilter.L1PerEdit * maxDist)
      // native banded-DP kernel with early abandon — semantics of
      // levenshtein(t1, t2, maxDist), verified bit-equal by property spec
      .withColumn("dist", EditFilter.levBounded(col("t1"), col("t2"), maxDist))
      .where(col("dist") >= 0)
      .select(col("d1"), col("d2"), col("dist"), col("l1"), col("l2"))
  }

  /** d20: dedup-method agreement matrix — for every pair of dedup
    * strategies, the doc-level overlap of what they flag: n docs flagged
    * by each, flagged by both, and the Jaccard of the two flag sets. The
    * audit a pipeline consults before CHOOSING its dedup stack — high
    * agreement means the cheaper method suffices, low agreement means the
    * methods see different duplication (byte-identical vs near vs
    * contained vs edit-close) and stack. Doc-level (not pair-level) by
    * design: pair multiplicity would skew the comparison (an exact-dup
    * trio is 3 d02 pairs but 2 star pairs), while "is this doc part of
    * ANY duplication under method m" is the decision-relevant bit.
    *
    * Methods: exact (d01 fingerprint groups > 1), unicode (d16 NFC
    * groups), jaccard (d02 pair endpoints, τ), containment (d12 contained
    * side d1 — both orientations are emitted, so mutual dups flag both),
    * edit (d19 pair endpoints). Subset laws by construction: exact ⊆
    * unicode, ⊆ jaccard, ⊆ containment, ⊆ edit (spec-pinned).
    *
    * Scale shape: every method reduces to its flagged-doc set first
    * (∝ duplicated docs, a small corpus fraction); the overlap join is on
    * doc_id over the 5-way union of those sets; the 15-row grid and
    * per-method sizes broadcast. Costs one run of each member operator —
    * d02 via the session pair memo, the rest at their own declared
    * shapes. */
  def methodAgreement(docs: DataFrame, jaccardThreshold: Double = 0.8,
                      containThreshold: Double = 0.9, maxDist: Int = 32,
                      k: Int = 3): DataFrame = {
    def dupDocs(f: DataFrame): DataFrame = {
      val hot = f.groupBy(col("f")).agg(count(lit(1)).as("n")).where(col("n") > 1)
      f.join(hot, Seq("f"), "left_semi").select(col("doc_id"))
    }
    val sets: Seq[(String, DataFrame)] = Seq(
      "exact" -> dupDocs(docs.select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("f"))),
      "unicode" -> dupDocs(docs.select(col("doc_id"),
        TextFns.fingerprint(graft.plans.NfcNormalize.nfcCol(col("text"))).as("f"))),
      "jaccard" -> sharedJaccardPairs(docs, jaccardThreshold, k)
        .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct(),
      "containment" -> containmentPairs(docs, containThreshold, k)
        .select(col("d1").as("doc_id")).distinct(),
      "edit" -> sharedEditPairs(docs, maxDist)
        .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct())
    val tagged = sets.map { case (m, d) =>
      d.select(lit(m).as("method"), col("doc_id"))
    }.reduce(_ unionAll _)
    val sizes = tagged.groupBy(col("method")).agg(count(lit(1)).as("n"))
    import docs.sparkSession.implicits._
    val methods = sets.map(_._1).toDF("method")
    // the full upper-triangle grid, so method pairs with ZERO overlap (or
    // zero members) still report their row
    val grid = methods.select(col("method").as("method_a"))
      .crossJoin(methods.select(col("method").as("method_b")))
      .where(col("method_a") <= col("method_b"))
    val both = tagged.select(col("method").as("method_a"), col("doc_id"))
      .join(tagged.select(col("method").as("method_b"), col("doc_id")), Seq("doc_id"))
      .where(col("method_a") <= col("method_b"))
      .groupBy(col("method_a"), col("method_b")).agg(count(lit(1)).as("n_both"))
    grid
      .join(broadcast(sizes.select(col("method").as("method_a"), col("n").as("n_a"))),
        Seq("method_a"), "left")
      .join(broadcast(sizes.select(col("method").as("method_b"), col("n").as("n_b"))),
        Seq("method_b"), "left")
      .join(both, Seq("method_a", "method_b"), "left")
      .na.fill(0L, Seq("n_a", "n_b", "n_both"))
      .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"), col("n_both"),
        when(col("n_a") + col("n_b") - col("n_both") === 0, lit(0.0))
          .otherwise(col("n_both").cast("double")
            / (col("n_a") + col("n_b") - col("n_both")).cast("double"))
          .as("agreement"))
  }

  /** d11: canonical selection — exact dedup keeping the BEST copy of each
    * duplicate group rather than d01's smallest-id copy: the curation rule
    * real pipelines use when near-identical scrapes differ in completeness
    * (keep the longest text; ties break to the smallest doc_id so the
    * choice is total). The keeper is computed as one `max(struct(n_chars,
    * -doc_id))` aggregate — a partial-aggregated exchange on the
    * fingerprint, never a per-group window sort, so a hot fingerprint
    * (boilerplate duplicated millions of times) combines map-side instead
    * of serializing through one task (the p06 agg-not-window rule). The
    * struct buffer makes it a SortAggregate physically — the partial_max
    * still runs before the exchange, which is the property that matters. */
  def keepBest(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fingerprint"),
        length(col("text")).as("n_chars"))
      .groupBy(col("fingerprint"))
      .agg(
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("fingerprint"), col("best.n_chars").as("n_chars"),
        (-col("best.neg_id")).as("keep_id"), col("n_copies"))

  /** d08: incremental exact dedup — the production ingestion flow: admit
    * from an incoming batch only documents whose normalized fingerprint is
    * (a) unseen in the EXISTING corpus and (b) first within the batch
    * itself (smallest doc_id wins, the d01 rule). The corpus never
    * re-dedupes; each batch pays one fingerprint scan of itself plus an
    * anti-join against the existing fingerprint set.
    *
    * Scale shape: both sides reduce to (fingerprint) keys — the incoming
    * side partial-aggregates to one row per distinct batch fingerprint
    * before the anti-join, so the exchange carries batch-distinct keys,
    * not batch rows. The existing side is a corpus-sized fingerprint scan;
    * amortize it by persisting the fingerprint set between batches, or
    * prefilter with a Bloom filter of the existing set exactly as p07 does
    * for decontamination (false positives would only re-check, never
    * wrongly drop, since the BF guards an anti-join confirm). */
  def incrementalExact(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val seen = existing
      .select(TextFns.fingerprint(col("text")).as("fingerprint")).distinct()
    incoming
      .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fingerprint"))
      .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
      .join(seen, Seq("fingerprint"), "left_anti")
      .select(col("doc_id"), col("fingerprint"))
  }

  /** Near-dup admission (d10, d21): the docs whose id `isNew` marks are
    * the incoming batch, the rest the standing corpus, and a batch doc is
    * admitted iff no pair of `pairs` (d1, d2) links it to a standing doc.
    * d10 passes the banded-MinHash pairs (d03), d21 the exact edit-distance
    * pairs (d19): restricted to cross-side endpoints, the full symmetric
    * pair set IS the cross-side pair set, so one memoized pair frame
    * serves the whole corpus. Batch-internal pairs are deliberately not
    * resolved here: that is a clustering decision (compose d03 + d07 over
    * the batch), as d08 leaves it for exact duplicates. */
  private[graft] def admitted(docs: DataFrame, pairs: DataFrame,
                              isNew: Column => Column): DataFrame = {
    val p = pairs.select(col("d1"), col("d2"))
    val crossIn = p
      .where(isNew(col("d1")) && !isNew(col("d2")))
      .select(col("d1").as("doc_id"))
      .unionAll(p.where(isNew(col("d2")) && !isNew(col("d1")))
        .select(col("d2").as("doc_id")))
      .distinct()
    docs.where(isNew(col("doc_id"))).select(col("doc_id"))
      .join(crossIn, Seq("doc_id"), "left_anti")
  }

  /** The shingle set for `docs`, through [[Memo]]. d02, d03 and the
    * corpus pipeline all consume the same exploded shingle table; one
    * shared persisted frame replaces three persist() attempts on
    * plan-identical frames (the CacheManager "already cached" warning). */
  def sharedShingles(docs: DataFrame, k: Int = 3): DataFrame =
    Memo.frame("Dedup.shingles", docs, k)(shingleSets(docs, k))

  /** Bench attribution accessor: the per-doc array frame over `docs`'
    * shared shingles (the [[sharedWeightedShingles]] convention). */
  def sharedShingleArraysFor(docs: DataFrame, k: Int = 3): DataFrame =
    sharedShingleArrays(sharedShingles(docs, k))

  /** Bench attribution accessor: the per-doc weighted array frame. */
  def sharedWeightedArraysFor(docs: DataFrame, k: Int = 3): DataFrame =
    sharedWeightedArrays(weightedShingles(sharedShingles(docs, k)))

  /** Per-doc SORTED shingle arrays (doc_id, shset, n), through [[Memo]] —
    * the join-twice verify payload: candidate-pair verification joins this
    * nDocs-row frame by doc id (twice) and intersects scan-locally, instead
    * of exploding candidates against the full (doc_id, shingle) frame and
    * re-shuffling it by a composite key per query. Same content moves —
    * one array row per doc instead of |doc| rows — but in ONE exchange at
    * build time (amortized across d12-family queries) rather than two
    * full-frame shuffles per verify. */
  private[graft] def sharedShingleArrays(sh: DataFrame): DataFrame =
    Memo.frame("Dedup.shingleArrays", sh)(
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("shingle"))).as("shset"),
          count(lit(1)).as("n")))

  /** Exploded distinct shingle sets, keyed by xxhash64 of the shingle:
    * (doc_id, shingle: long). Joining/counting on the 8-byte hash instead of
    * the string shrinks the self-join shuffle ~3×; a 64-bit collision would
    * need two distinct shingles of the same corpus to collide (~1e-11 at
    * ~10⁵ distinct shingles). */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame =
    // two-step projection: bind the token array to an attribute first so the
    // shingle lambda reads it instead of re-running the tokenizer per element
    // (see TextFns.shingleHashesOfTokens)
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shingleHashesOfTokens(col("toks"), k)).as("shingle"))

  private def jaccardOf(pairs: DataFrame, sh: DataFrame): DataFrame = {
    // verify off the per-doc sorted arrays (the d12 move): two id-keyed
    // joins of the memoized nDocs-row frame + scan-local hash-based
    // intersection, never a per-query composite-key reshuffle of sh
    val sets = sharedShingleArrays(sh)
    pairs
      .join(sets.select(col("doc_id").as("d1"), col("shset").as("s1"), col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shset").as("s2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("s1"), col("s2"))).cast("long").as("common"),
        col("n1"), col("n2"))
      .select(col("d1"), col("d2"),
        (col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double")).as("jaccard"))
  }

  /** d02: exact n-gram-Jaccard near-dup pairs (d1 < d2, jaccard ≥ threshold)
    * via a prefix-filtered inverted shingle index — the correctness baseline
    * the LSH path must reproduce. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8, k: Int = 3): DataFrame =
    // convenience wrapper over the session memo: repeated calls (and
    // d03/p01 on the same docs) share ONE persisted shingle set. Long-lived
    // sessions processing many corpora should either call Memo.release
    // between corpora or own the lifecycle outright via
    // ngramJaccardPairsOf + their own persist/unpersist.
    ngramJaccardPairsOf(sharedShingles(docs, k), threshold)

  /** d02 core over a caller-managed shingle set (from [[shingleSets]]):
    * the caller decides persist()/unpersist() around the terminal action.
    *
    * Exact, with PREFIX FILTERING (ssjoin/All-Pairs): candidates come from a
    * self-join over each doc's first `n − ceil(τ·n) + 1` shingles in a
    * global rarity order, then exact Jaccard verifies candidates only.
    * Why this is still exact: J(A,B) ≥ τ implies |A∩B| ≥ τ·max(|A|,|B|)
    * (from c(1+τ) ≥ τ(|A|+|B|) and min ≥ c), so the dropped suffix of
    * ceil(τ·n)−1 elements cannot contain the whole intersection, and with a
    * consistent total order the two prefixes must share an element
    * (pigeonhole on the order's maximum — the classic prefix-filter
    * theorem). Why this is the 100 TB shape: a *hot* shingle has high
    * document frequency, sorts to the suffixes, and never generates
    * candidates — the inverted-index join's quadratic blowup on stop-
    * shingles (the declared scale-killer of the naive form) is gone, at the
    * cost of one extra aggregation for document frequencies.
    * ceil(τ·n) is computed in exact integer arithmetic (threshold scaled to
    * a /1e6 rational): a double `ceil` at the boundary (e.g. 0.8·10 →
    * 8.0000000000000009 → 9) would shrink the prefix and silently drop
    * qualifying pairs. */
  def ngramJaccardPairsOf(sh: DataFrame, threshold: Double = 0.8): DataFrame = {
    val num = math.round(threshold * 1e6) // τ as an exact /1e6 rational
    // the exactness claim below rests on τ really BEING num/1e6: a threshold
    // that quantizes (1.0/3 → 333333/1e6) would make the prefix fractionally
    // conservative-or-not depending on rounding direction — reject it
    // instead of silently substituting the nearest representable value
    require(num / 1e6 == threshold,
      s"threshold=$threshold is not exactly a /1e6 rational; the prefix " +
        s"filter computes ceil(t*n) in exact integer arithmetic at 6 decimal " +
        s"digits — pass a threshold with at most 6 decimal places (nearest: ${num / 1e6})")
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // rank each doc's shingles rare-first in ONE pass (row_number + count
    // share one doc_id exchange); keep the first p = n − α + 1,
    // α = ceil(n·num/1e6) in exact integer arithmetic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefixes = sh.join(freq, "shingle")
      .select(col("doc_id"), col("shingle"),
        row_number().over(w).as("rn"), count(lit(1)).over(wAll).as("n"))
      .where(expr(s"rn <= n - ((n * ${num}L + 999999L) div 1000000L) + 1"))
    // candidate pairs straight off the inverted prefix index: group the
    // (rare, so short) per-shingle posting lists and emit ordered pairs.
    // One shuffle on the shingle — and, unlike a prefix self-join, the
    // prefix pipeline runs ONCE (a self-join re-executes its subtree on
    // both sides; measured 2× the freq agg + doc ranking at sf0.1).
    val cand = prefixes.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS d1, y AS d2))))"
      )).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    jaccardOf(cand, sh).filter(col("jaccard") >= threshold)
  }

  /** d12: directed shingle-containment pairs — (d1, d2) where d1's shingle
    * set is ≥ `threshold` contained in d2's: |A∩B| / |A| ≥ τ. The
    * quote/superset detector Jaccard structurally misses: a short document
    * fully embedded in a long one has containment 1 but Jaccard
    * |A|/|B| — far below any near-dup threshold once the container is a
    * few times larger (boilerplate inclusion, quoted posts, license
    * blocks, prompt-in-completion leaks).
    *
    * Exact, with the ASYMMETRIC prefix filter: only the contained side
    * needs a prefix — if |A∩B| ≥ τ·|A| then A's suffix of ceil(τ·|A|)−1
    * rare-last shingles is strictly smaller than the intersection, so A's
    * rare-first prefix of |A|−ceil(τ·|A|)+1 shingles must hit B's FULL
    * set (the d02 pigeonhole, one-sided). Probes carry only rare
    * shingles — a hot shingle sorts into suffixes and never probes — and
    * the full posting list on the B side is touched only where a rare
    * probe lands. Candidates then verify with an exact common count;
    * containment is the single unrounded division, the d02 float rule.
    * Same integer-exact ceil(τ·n) discipline as [[ngramJaccardPairsOf]]. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9, k: Int = 3): DataFrame =
    containmentPairsOf(sharedShingles(docs, k), threshold)

  /** d12's pair frame, through [[Memo]]: d12 and d41's exact route
    * consume the same (docs, threshold, k) directed pair set, so the
    * asymmetric prefix-filtered index join (the family's most expensive
    * verify) runs once, not once per consumer. */
  def sharedContainmentPairs(docs: DataFrame, threshold: Double = 0.9,
                             k: Int = 3): DataFrame =
    Memo.frame("Dedup.containmentPairs", docs, threshold, k)(
      containmentPairs(docs, threshold, k))

  /** See [[containmentPairs]]; core over a caller-managed shingle set. */
  def containmentPairsOf(sh: DataFrame, threshold: Double = 0.9): DataFrame = {
    val num = math.round(threshold * 1e6)
    require(num / 1e6 == threshold,
      s"threshold=$threshold is not exactly a /1e6 rational (nearest: ${num / 1e6})")
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefixes = sh.join(freq, "shingle")
      .select(col("doc_id"), col("shingle"),
        row_number().over(w).as("rn"), count(lit(1)).over(wAll).as("n"))
      .where(expr(s"rn <= n - ((n * ${num}L + 999999L) div 1000000L) + 1"))
    val cand = prefixes.select(col("doc_id").as("d1"), col("shingle"))
      .join(sh.select(col("doc_id").as("d2"), col("shingle")), "shingle")
      .where(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // verify off the per-doc sorted arrays: two id-keyed joins of the
    // nDocs-row array frame + a scan-local exact intersection, instead of
    // exploding candidates against the full shingle frame and paying a
    // composite-key reshuffle of it per query (measured ~2x d12 at sf0.1)
    val sets = sharedShingleArrays(sh)
    cand
      .join(sets.select(col("doc_id").as("d1"), col("shset").as("s1"), col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shset").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("s1"), col("s2"))).cast("double") /
          col("n1").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** d13: rarity-weighted (IDF-style) Jaccard near-dup pairs — Jaccard
    * where each shingle votes proportionally to its rarity:
    * w(s) = ⌊10⁶ / df(s)⌋, J_w(A,B) = w(A∩B) / w(A∪B) ≥ τ. Plain Jaccard
    * (d02) lets boilerplate shingles (headers, license lines, navigation
    * chrome) vote with the same weight as content; the weighted form is
    * the standard fix: documents sharing their RARE content qualify even
    * when one side is padded with common chrome, and chrome-only overlap
    * no longer does.
    *
    * Exactness discipline: the weight is one integer division (bit-equal
    * across engines), per-doc and per-pair weight sums are exact longs,
    * the threshold test is the integer comparison
    * `w(A∩B)·10⁶ ≥ num·w(A∪B)` (num = τ·10⁶, the d02 /1e6-rational rule),
    * and the emitted score is the single final IEEE division — no float
    * ever decides a boundary. df > 10⁶ quantizes to weight 0 — a shingle
    * in a million-plus documents is exactly the chrome the weighting
    * exists to ignore — and zero-weight shingles are dropped outright
    * (they contribute 0 to every sum on both sides of the join, so the
    * answer is unchanged while their giant posting lists never move).
    *
    * Scale shape: the WEIGHTED prefix filter, both-sides (the d02 shape
    * lifted to weights). Rank each doc's shingles heaviest-first (df asc,
    * shingle asc — w is non-increasing in df, and the order is one GLOBAL
    * total order restricted to each doc) and keep the minimal prefix whose
    * dropped suffix weighs < τ·w(doc). Exactness: let x be the FIRST
    * common shingle of a qualifying pair in the global order; every other
    * common shingle comes after x, and a doc's suffix is a tail of that
    * same order — so if x sat in either doc's suffix, the ENTIRE
    * intersection would, giving w(A∩B) ≤ w(suffix) < τ·w(doc) ≤ τ·w(A∪B),
    * contradicting J_w ≥ τ. Hence x is in BOTH prefixes and the
    * posting-list join over prefix rows only must surface the pair.
    * Prefix shingles are the heavy (= rare) ones, so their posting lists
    * are short by construction; chrome sorts into suffixes and never
    * generates candidates. One exchange for df, one doc-keyed window pass
    * for the prefix, one shingle-keyed posting-list grouping, exact
    * weighted verification on candidates only.
    *
    * Cost honesty: at the default τ = 0.5 the prefix holds half of each
    * doc's WEIGHT — on corpora where most shingles are unique (uniform
    * weights) that is half its ROWS, so d13 costs more than d02's
    * (1−0.8)·n prefix at the same scale; the price of a lower threshold,
    * not of the weighting. Like d02, this is the exact family member; the
    * implemented 100 TB sketch route is [[weightedMinHashLshPairs]] (d14)
    * — Ioffe CWS weighted MinHash in d03's banded-LSH shape — and this
    * exact path is the oracle d14's recall is spec'd against, exactly as
    * d03 is to d02. */
  def weightedJaccardPairs(docs: DataFrame, threshold: Double = 0.5, k: Int = 3): DataFrame =
    weightedJaccardPairsOf(sharedShingles(docs, k), threshold)

  /** τ as an exact /1e6 rational (the d02 rule), rejected otherwise. */
  private def tauNum(threshold: Double): Long = {
    val num = math.round(threshold * 1e6)
    require(num / 1e6 == threshold,
      s"threshold=$threshold is not exactly a /1e6 rational (nearest: ${num / 1e6})")
    num
  }

  /** Public accessor for the weighted shingle frame over `docs`' shared
    * shingles — lets the bench attribute the one-time build to its own
    * `_shared_weighted_shingles` entry instead of whichever of d13/d14/d17
    * runs first (the [[sharedShingles]] attribution convention). */
  def sharedWeightedShingles(docs: DataFrame, k: Int = 3): DataFrame =
    weightedShingles(sharedShingles(docs, k))

  /** The weighted shingle frame (doc_id, shingle, df, w) for a shingle
    * set, through [[Memo]] — rarity weight by exact integer division,
    * zero-weight chrome dropped (see [[weightedJaccardPairs]]). One
    * weightedJaccard plan reads it FOUR times (prefix extraction,
    * candidate posting lists via the prefix, and the two verify joins +
    * sizes); unmaterialized, each read re-pays the corpus shingle scan AND
    * the df aggregation (measured ~4x the query's useful work at sf0.1). */
  private def weightedShingles(sh: DataFrame): DataFrame =
    Memo.frame("Dedup.weightedShingles", sh) {
      val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      sh.join(freq, "shingle")
        .select(col("doc_id"), col("shingle"), col("df"),
          expr("1000000L div df").as("w"))
        .where(col("w") > 0)
    }

  /** Per-doc weighted shingle arrays (doc_id, shset: sorted LONG array
    * of the doc's w>0 shingles, tw = Σw) for the weighted verify — the
    * [[sharedShingleArrays]] move for the weighted family. The array
    * holds PLAIN longs, deliberately: Spark's array_intersect has a
    * primitive-long fast path (hash set, O(|A|+|B|) per pair), while
    * struct-element arrays fall to the interpreted ordering-based path —
    * measured ~4× the whole query at sf0.1. The intersection's weights
    * are then summed by EXPLODING only the common shingles (rows ∝ the
    * pair's true overlap, a fraction of either doc) into one join
    * against the per-shingle weight table. Through [[Memo]]. */
  private def sharedWeightedArrays(wsh: DataFrame): DataFrame =
    Memo.frame("Dedup.weightedArrays", wsh)(
      wsh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("shingle"))).as("shset"),
          sum(col("w")).as("tw")))

  /** Exact weighted verification tail shared by d13 and d14: candidate
    * (d1, d2) pairs → fast long-array intersection → common shingles
    * exploded (∝ actual overlap) and weighted via the shingle table →
    * exact long sums → integer threshold test → the one final IEEE
    * division. */
  private def weightedVerify(cand: DataFrame, wsh: DataFrame, num: Long): DataFrame = {
    val wa = sharedWeightedArrays(wsh)
    val commonSh = cand
      .join(wa.select(col("doc_id").as("d1"), col("shset").as("a1"), col("tw").as("w1")), "d1")
      .join(wa.select(col("doc_id").as("d2"), col("shset").as("a2"), col("tw").as("w2")), "d2")
      .select(col("d1"), col("d2"), col("w1"), col("w2"),
        explode(array_intersect(col("a1"), col("a2"))).as("shingle"))
    // per-shingle weight table: one row per distinct shingle (vocabulary-
    // bounded, the t13 bound); a pair with an empty intersection vanishes
    // at the explode, exactly as it failed the inner verify join before —
    // it cannot reach any positive threshold
    val wTab = wsh.select(col("shingle"), col("w")).distinct()
    commonSh.join(wTab, "shingle")
      .groupBy(col("d1"), col("d2"), col("w1"), col("w2"))
      .agg(sum(col("w")).as("common_w"))
      .where(expr(s"common_w * 1000000L >= ${num}L * (w1 + w2 - common_w)"))
      .select(col("d1"), col("d2"),
        (col("common_w").cast("double") /
          (col("w1") + col("w2") - col("common_w")).cast("double")).as("wjaccard"))
  }

  /** See [[weightedJaccardPairs]]; core over a caller-managed shingle set. */
  def weightedJaccardPairsOf(sh: DataFrame, threshold: Double = 0.5): DataFrame = {
    val num = tauNum(threshold)
    val wsh = weightedShingles(sh)
    // heaviest-first rank + running weight before the current row + total,
    // all in ONE doc_id window pass; keep while the tail from this row on
    // still weighs >= tau * total (exact integer comparison)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefixes = wsh
      .select(col("doc_id"), col("shingle"),
        coalesce(sum(col("w")).over(wOrd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)).as("cum_before"),
        sum(col("w")).over(wAll).as("total_w"))
      .where(expr(s"(total_w - cum_before) * 1000000L >= ${num}L * total_w"))
    // candidate pairs straight off the inverted PREFIX index (the d02
    // shape): group the (rare, so short) per-shingle posting lists of
    // prefix rows and emit ordered pairs — the prefix pipeline runs once
    val cand = prefixes.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS d1, y AS d2))))"
      )).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    weightedVerify(cand, wsh, num)
  }

  /** d14: weighted MinHash + banded LSH — the implemented 100 TB sketch
    * route for [[weightedJaccardPairs]] (d13), exactly as d03 is for d02.
    * Signatures are Ioffe 2010 Consistent Weighted Sampling draws: for
    * element x with weight w and draw i,
    * r, c ~ Gamma(2,1), β ~ U(0,1) (all deterministic hashes of (x, i)),
    * t = ⌊ln w / r + β⌋, ln a = ln c − r·(t − β) − r, and the draw's
    * sketch value is the doc's min ln a — which pins the argmin (x, t)
    * since equal (x, t) means the identical double. Ioffe's theorem:
    * P[sketch_A(i) = sketch_B(i)] = J_w(A,B) exactly — the weighted
    * generalization of the MinHash collision identity (with our global
    * df-derived weights, Σmin/Σmax reduces to w(A∩B)/w(A∪B), d13's
    * definition). Because (r, c, β) depend only on (x, i), any two docs
    * sharing x compute the SAME (t, ln a) for it — consistency is what
    * makes the collision probability exact.
    *
    * Banding: rowsPerBand=2 over bands=16 (32 draws) gives per-band
    * collision j², band hit 1−(1−j²)^16 ≈ 0.99 at j = 0.5 (0.9996 at
    * 0.6) — tuned for the LOW weighted threshold the same way d03's 16×4
    * is tuned for 0.8, at half the signature cost of a 0.9999 floor.
    * Candidates are exactly verified by the shared weighted tail
    * ([[weightedVerify]]), so precision is 1 by construction and the
    * emitted scores are exact; recall is the banding bound, spec-verified
    * against d13 (the registered query is rows-only for the same reason
    * d03's own entry hash-matches d02: here the sketch is genuinely
    * probabilistic at τ = 0.5, so the pair sets are asserted in the spec,
    * not the driver hash).
    *
    * Scale shape: ONE aggregation pass computes all 64 CWS draws as
    * min(struct) columns (partial-aggregated — signature size is fixed
    * per doc regardless of doc size); the bucket join shuffles (band,
    * bucket) keys only; verification touches candidate pairs only. The
    * transcendental cost (≈ 5 ln per row per draw) is scan-local. */
  def weightedMinHashLshPairs(docs: DataFrame, threshold: Double = 0.5,
                              bands: Int = 16, rowsPerBand: Int = 2,
                              k: Int = 3): DataFrame =
    weightedMinHashLshPairsOf(sharedShingles(docs, k), threshold, bands, rowsPerBand)

  /** See [[weightedMinHashLshPairs]]; core over a caller-managed shingle
    * set. */
  def weightedMinHashLshPairsOf(sh: DataFrame, threshold: Double = 0.5,
                                bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val num = tauNum(threshold)
    val wsh = weightedShingles(sh)
    val nDraws = bands * rowsPerBand
    val sig = cwsSignaturesOf(wsh, nDraws)
    val bandCols: Column = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"cw$i")): _*).as("bucket"))
    }: _*)
    val buckets = sig.select(col("doc_id"), explode(bandCols).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = buckets.select(col("doc_id").as("d1"), col("band"), col("bucket"))
      .join(buckets.select(col("doc_id").as("d2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    weightedVerify(cand, wsh, num)
  }

  /** Public accessor for the memoized CWS signature frame over `docs`'
    * weighted shingles — the bench attributes the one-time index build to
    * its own `_shared_cws_sig` entry (the [[sharedShingles]] convention),
    * so d14's per-serve medians measure serving, not building. */
  def sharedCwsSignatures(docs: DataFrame, bands: Int = 16,
                          rowsPerBand: Int = 2, k: Int = 3): DataFrame =
    cwsSignaturesOf(weightedShingles(sharedShingles(docs, k)), bands * rowsPerBand)

  /** The memoized, persisted CWS signature frame (doc_id, cw0..cwN) —
    * the weighted LSH family's index. */
  private def cwsSignaturesOf(wsh: DataFrame, nDraws: Int): DataFrame = {
    // two independent uniform (0,1) draws per seeded xxhash64: the high
    // and low 32-bit halves, each scaled into the unit interval (the +0.5
    // offset keeps them off 0; 2^-32 granularity is far below any effect
    // a sketch could observe)
    def u2(j: Int): (Column, Column) = {
      val h = xxhash64(col("shingle"), lit(j))
      ((shiftrightunsigned(h, 32).cast("double") + 0.5) / lit(4.294967296e9),
        (pmod(h, lit(4294967296L)).cast("double") + 0.5) / lit(4.294967296e9))
    }
    // Two docs collide on draw i iff the argmin ELEMENT and its t agree —
    // and since (r, c, beta) depend only on (shingle, i) and w is global,
    // equal (x, t) implies the IDENTICAL double a, while different (x, t)
    // give continuously-distributed a's that never coincide (a freak
    // 64-bit double coincidence would only add a false CANDIDATE, killed
    // by the exact verify). So the sketch value per draw is min(a) ITSELF:
    // plain double min-aggregates — HashAggregate, codegen, map-side
    // partials, the d03 signature shape — instead of min(struct(a, x, t)),
    // whose struct buffers force an interpreted SortAggregate over
    // signature-width rows (measured 3x the whole query's cost at sf0.1).
    // The draws are pre-projected in two codegen'd selects (r/lnc/beta,
    // then a) so each transcendental runs once per row.
    val step1 = wsh.select(
      col("doc_id") +: col("shingle") +:
        log(col("w").cast("double")).as("lnw") +: // w >= 1 so lnw >= 0
        (0 until nDraws).flatMap { i =>
          val (ua, ub) = u2(3 * i)
          val (uc, ud) = u2(3 * i + 1)
          val (ue, _) = u2(3 * i + 2)
          Seq((-log(ua) - log(ub)).as(s"r$i"), // Gamma(2,1)
            log(-log(uc) - log(ud)).as(s"lnc$i"), // ln Gamma(2,1)
            ue.as(s"b$i")) // beta ~ U(0,1)
        }: _*)
    val step2 = step1.select(
      col("doc_id") +:
        (0 until nDraws).map { i =>
          val t = floor(col("lnw") / col(s"r$i") + col(s"b$i"))
          (col(s"lnc$i") - col(s"r$i") * (t - col(s"b$i")) - col(s"r$i")).as(s"c$i")
        }: _*)
    // The CWS signature is the expensive stage (nDraws × ~5 transcendentals
    // per shingle row) and BOTH sides of the band-bucket self-join consume
    // it — unpersisted, Spark recomputes the whole projection per side
    // (measured ≈ 3× the stage's cost inside one d14 run at sf0.1). The
    // signature frame is the weighted family's INDEX (the round-7 rule:
    // build once, serve many), so it goes through Memo per (shingle plan,
    // draws) like [[weightedShingles]] and persists doc-count-sized rows
    // (|docs| × nDraws doubles — index-scale, not corpus-scale).
    Memo.frame("Dedup.cwsSignatures", wsh, nDraws)(
      step2.groupBy(col("doc_id"))
        .agg(min(col("c0")).as("cw0"),
          (1 until nDraws).map(i => min(col(s"c$i")).as(s"cw$i")): _*))
  }

  /** MinHash signature columns: min over the shingle set of k seeded
    * xxhash64 draws. One aggregation pass computes the whole signature. */
  private def minhashAgg(sh: DataFrame, numHashes: Int): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(xxhash64(col("shingle"), lit(0))).as("mh0"),
        (1 until numHashes).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"mh$i")): _*)
  // (shingle is already a 64-bit hash; re-hashing with a seed column gives
  // the k independent draws)

  /** d03: MinHash + banded LSH near-dup pairs, exact-verified.
    * bands=16 × rows=4 → collision prob ≈ 1-(1-j⁴)¹⁶ (≈0.9998 at j=0.8).
    * Candidates from band-bucket self-join; exact Jaccard on candidates only.
    * This is the shape that holds at 100 TB: signatures are fixed-size, the
    * bucket join shuffles on (band, bucket-hash), and verification touches
    * only candidate pairs. */
  /** LSH pair sets go through [[Memo]]: d03, d07 cluster resolution and
    * the p01 pipeline all close over the SAME pair set, and the verified
    * pair frame is tiny (∝ actual duplication, not corpus size), so
    * recomputing the signature/band/verify pipeline per consumer is pure
    * waste. */
  def minHashLshPairs(docs: DataFrame, threshold: Double = 0.8,
                      bands: Int = 16, rowsPerBand: Int = 4, k: Int = 3): DataFrame =
    Memo.frame("Dedup.lshPairs", docs, threshold, bands, rowsPerBand, k)(
      minHashLshPairsOf(sharedShingles(docs, k), threshold, bands, rowsPerBand))

  /** d03 core over a caller-managed shingle set — caller owns the
    * persist()/unpersist() lifecycle. */
  /** (doc_id, band, bucket) rows from a signature frame: one row per band,
    * bucket = hash of the band's signature slice. Shared by d03's
    * self-join and d10's incoming-vs-existing probe. */
  private def bandBuckets(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols: Column = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i")): _*).as("bucket"))
    }: _*)
    sig.select(col("doc_id"), explode(bandCols).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def minHashLshPairsOf(sh: DataFrame, threshold: Double = 0.8,
                        bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val buckets = bandBuckets(minhashAgg(sh, bands * rowsPerBand), bands, rowsPerBand)
    val cand = buckets.select(col("doc_id").as("d1"), col("band"), col("bucket"))
      .join(buckets.select(col("doc_id").as("d2"), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    jaccardOf(cand, sh).filter(col("jaccard") >= threshold)
  }

  /** Portable 60-bit token hash: the first 15 hex chars of md5, parsed as an
    * integer. Slower than xxhash64 but reproducible in any engine with md5
    * (the DuckDB oracle parses the same prefix), so SimHash built on it is
    * hash-checkable end-to-end. */
  def md5Hash60(token: Column): Column =
    conv(substring(md5(token), 1, 15), 16, 10).cast("long")

  /** SimHash of the token multiset: sign of the per-bit ±1 vote sum, built
    * as a pure expression tree (`bits` conditional sums per doc). Default
    * token hash is the portable [[md5Hash60]] (oracle-checkable; see the
    * d04_simhash DuckDB oracle in SparkEntry); pass `xxhash64` with
    * bits = hashBits = 64 for the cheapest-per-token variant. `hashBits`
    * declares the token hash's width so `bits` can't silently exceed it
    * (bits above the hash width would never vote positive). */
  def simHash(docs: DataFrame, bits: Int = 60,
              tokenHash: Column => Column = md5Hash60,
              hashBits: Int = 60): DataFrame = {
    require(bits % 4 == 0 && bits <= hashBits,
      s"bits=$bits must be a multiple of 4 and <= the token hash width ($hashBits)")
    val tok = docs.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("token"))
      .withColumn("h", tokenHash(col("token")))
    val votes: Seq[Column] = (0 until bits).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"v$b")
    }
    tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** d04: SimHash near-dup pairs — band the `bits` bits into 4 equal keys
    * (hamming ≤ 3 ⇒ at least one band identical), verify with bit_count. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 60,
                   tokenHash: Column => Column = md5Hash60,
                   hashBits: Int = 60): DataFrame = {
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1
    val sh = simHash(docs, bits, tokenHash, hashBits)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(bandMask)).as("key"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.key").as("key"))
    banded.select(col("doc_id").as("d1"), col("simhash").as("s1"), col("band"), col("key"))
      .join(banded.select(col("doc_id").as("d2"), col("simhash").as("s2"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** d05: embedding-cosine near-dup pairs (d1 < d2, cos ≥ threshold).
    * Exact all-pairs baseline, executed as a distributed block nested loop:
    * the corpus is split into `blocks` partitions and each of the blocks²
    * (row-partition × glommed-block) tasks compares its row slice against
    * one block in tight JVM code — O(n²/2·dims) flops spread over all
    * cores, no per-pair Catalyst overhead, no driver-side collect(), no
    * full-corpus broadcast: a task holds exactly two n/blocks slices, so
    * memory is bounded by the block size regardless of corpus size (pick
    * blocks ∝ √cluster-cores at scale). Accumulation is sequential
    * left-to-right (DuckDB list_cosine_similarity-compatible). Still
    * quadratic in flops — the declared exact baseline; the scale routes are
    * the LSH/IVF paths in graft.similarity.Knn / graft.ml.MlOps. */
  /** d05's pair frame, through [[Memo]] — the [[minHashLshPairs]]
    * precedent: d05 (the declared exact baseline), d38's exact route and
    * the parity/admission consumers all close over the SAME all-pairs
    * result, and the verified pair frame is tiny (∝ actual duplication),
    * so re-running the quadratic kernel per consumer is pure waste. The
    * first consumer pays the materialization (the bench's d05 entry — the
    * baseline stays honestly timed). */
  def embeddingDupPairs(emb: DataFrame, threshold: Double = 0.45,
                        blocks: Int = 8): DataFrame =
    Memo.frame("Dedup.embeddingPairs", emb, threshold, blocks)(
      embeddingDupPairsOf(emb, threshold, blocks))

  /** The d05 kernel over a caller-managed lifecycle (no memo). */
  def embeddingDupPairsOf(emb: DataFrame, threshold: Double = 0.45,
                          blocks: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val data = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .rdd.map { case (id, v) => (id, v, normSq(v)) }
      .repartition(blocks)
    // prefilter slack: round(·,4) can lift a value by at most 5e-5
    val pre = threshold - 1e-4
    // every (row, block) meets in exactly one task; jd > id keeps the upper
    // triangle exactly once across all block pairs
    val pairs = data.cartesian(data.glom())
      .flatMap { case ((id, v, nv2), block) =>
        val nv = math.sqrt(nv2)
        block.iterator
          .filter(_._1 > id)
          .map { case (jd, jv, jn) =>
            var dot = 0.0; var i = 0
            while (i < v.length) { dot += v(i) * jv(i); i += 1 }
            (id, jd, dot / (nv * math.sqrt(jn)))
          }
          .filter(_._3 >= pre)
      }.toDF("d1", "d2", "cos_raw")
    pairs.select(col("d1"), col("d2"), round(col("cos_raw"), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def normSq(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** d06's REGISTERED frame (the s02 recipe at nProbe arity — round-14
    * promotion): per corpus vector, the probed cell LIST the
    * [[embeddingDupPairsIvf]] JVM kernel buckets by (its tight
    * d²-then-sort loop) must equal the Catalyst replay — `slice(array_sort
    * (dists), 1, nProbe).cell` over the same literal centers. Both arms
    * accumulate Σ(vᵢ−cᵢ)² in index order ([[graft.plans.VectorExprs]]'s
    * `l2Sq` is the expression twin of the kernel loop), so the doubles are
    * IEEE-identical and the (d2, cell) lexicographic order is exact — the
    * trained-model bucketing becomes SQL-pinnable (full row universe,
    * all-true agreement) even though the cell ids aren't SQL-expressible.
    * The PAIR semantics stay gated elsewhere: d05 is the exact-oracled
    * baseline, DedupSpec pins d06's pairs as a verbatim subset of d05's
    * with a recall floor, and d38 routes between them. */
  def embeddingIvfProbeParity(emb: DataFrame, nCells: Int = 10,
                              nProbe: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cs = graft.similarity.Knn.sharedCenters(emb, nCells)
    val bc = spark.sparkContext.broadcast(cs)
    val np = math.min(nProbe, cs.length)
    val kernel = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].rdd
      .map { case (id, v) =>
        val cents = bc.value
        val d2 = new Array[Double](cents.length)
        var c = 0
        while (c < cents.length) {
          var s = 0.0; var i = 0
          while (i < v.length) { val t = v(i) - cents(c)(i); s += t * t; i += 1 }
          d2(c) = s; c += 1
        }
        (id, d2.zipWithIndex.sortBy { case (d, cell) => (d, cell) }
          .take(np).map(_._2).toSeq)
      }.toDF("vec_id", "cells_kernel")
    val cents = graft.similarity.Knn.centsLit(cs)
    val replay = emb.select(col("vec_id"),
      transform(slice(array_sort(
        graft.similarity.Knn.dists(col("embedding").cast("array<double>"), cents)),
        1, np), s => s.getField("cell")).as("cells_replay"))
    kernel.join(replay, Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        (col("cells_kernel") === col("cells_replay")).as("probe_match"))
  }

  /** d06: IVF-bucketed embedding near-dup pairs — the at-scale counterpart
    * of the exact [[embeddingDupPairs]] baseline. Each vector is assigned
    * map-side to its `nProbe` nearest KMeans cells (the same literal-
    * centroid argmin shape as `similarity.Knn.assigned` — no shuffle
    * between scan and assignment); candidate pairs are vectors sharing a
    * cell; exact cosine verifies candidates only. Flops drop from n²/2 to
    * ~n²·nProbe²/(2·nCells) expected (cells ∝ corpus at scale keeps the
    * per-cell work bounded), at the price of recall < 1 when a qualifying
    * pair shares no probed cell — approximate by design, so like s02 it has
    * a recall spec against the exact baseline instead of a SQL oracle.
    * Every emitted pair is exact-verified: precision is 1 by construction. */
  def embeddingDupPairsIvf(emb: DataFrame, threshold: Double = 0.45,
                           nCells: Int = 10, nProbe: Int = 2,
                           centers: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the session-memoized model: Lloyd is deterministic, so this is the
    // SAME centers kmeansCenters would return, trained at most once per
    // (session, corpus, nCells) across d06 / s02 / s06
    val cs = centers.getOrElse(graft.similarity.Knn.sharedCenters(emb, nCells))
    val bc = spark.sparkContext.broadcast(cs)
    // prefilter slack before the 4-decimal round, exactly as in d05
    val pre = threshold - 1e-4
    // map-side: nProbe nearest cells + the L2 norm, both in one pass over
    // the vector — no shuffle between the scan and the assignment
    val probed = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].rdd
      .flatMap { case (id, v) =>
        val cents = bc.value
        val d2 = new Array[Double](cents.length)
        var c = 0
        while (c < cents.length) {
          var s = 0.0; var i = 0
          while (i < v.length) { val t = v(i) - cents(c)(i); s += t * t; i += 1 }
          d2(c) = s; c += 1
        }
        val cells = d2.zipWithIndex.sortBy { case (d, cell) => (d, cell) }
          .take(math.min(nProbe, cents.length)).map(_._2)
        val nrm = math.sqrt(normSq(v))
        cells.iterator.map(cell => (cell, (id, v, nrm, cells)))
      }
    // one shuffle on the cell id; each cell verifies its members in a tight
    // JVM double loop (the Catalyst zip_with/aggregate dot costs ~10× more
    // per pair — measured 4.9 s vs 1.3 s on this corpus — because the HOF
    // allocates an intermediate array per candidate pair). Per-task memory
    // is bounded by the cell size: nCells ∝ corpus keeps cells constant.
    // Multi-probe emits a pair once per shared cell; verifying only in the
    // SMALLEST shared cell counts each pair exactly once, no dedup pass.
    // dot/(n1·n2) matches embeddingDupPairs' accumulation order
    // bit-for-bit, so these pairs are a verbatim subset of the exact
    // baseline's (DedupSpec asserts it).
    val pairs = probed.groupByKey(math.max(nCells, 2)).flatMap { case (cell, members) =>
      val arr = members.toArray.sortBy(_._1)
      Iterator.range(0, arr.length).flatMap { i =>
        val (id1, v1, n1, cells1) = arr(i)
        Iterator.range(i + 1, arr.length).flatMap { j =>
          val (id2, v2, n2, cells2) = arr(j)
          var minShared = Int.MaxValue
          cells1.foreach(a => if (a < minShared && cells2.contains(a)) minShared = a)
          if (minShared != cell) Iterator.empty
          else {
            var dot = 0.0; var k = 0
            while (k < v1.length) { dot += v1(k) * v2(k); k += 1 }
            val cos = dot / (n1 * n2)
            if (cos >= pre) Iterator.single((id1, id2, cos)) else Iterator.empty
          }
        }
      }
    }.toDF("d1", "d2", "cos_raw")
    pairs.select(col("d1"), col("d2"), round(col("cos_raw"), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** d38: stats-routed embedding dedup — [[graft.plans.RewriteLowCardWindow]]'s
    * size-aware discipline applied at the OPERATOR level: the caller asks
    * for embedding near-dups and the engine picks the route from plan
    * statistics, so the quadratic exact baseline can only run when the
    * input is PROVABLY small.
    *
    * Routing rule ([[graft.plans.StatsRoute]], shared with d39/d40/s32):
    *   - `plan.stats.sizeInBytes` ≤ `spark.graft.route.maxExactBytes`
    *     (default 32 MB): the exact all-pairs [[embeddingDupPairs]] — its
    *     n²/2 flops are affordable, and exactness is free;
    *   - larger or UNKNOWN (an RDD-backed frame reports the conf'd
    *     `defaultSizeInBytes` = Long.MaxValue): the IVF route
    *     [[embeddingDupPairsIvf]], with `nCells` grown with the measured
    *     bytes ([[graft.plans.StatsRoute.grownCells]]: one cell per 4 MB,
    *     min 10, cap 65536) — the "cells ∝ corpus" prescription, enforced
    *     rather than hand-tuned.
    * Unknown-routes-to-scale is the load-bearing choice: at 100 TB the one
    * unacceptable failure is the quadratic path firing on an input the
    * planner couldn't size.
    *
    * The emitted `route` column makes the decision auditable in the result
    * itself (and lets the oracle pin it: at test SF the parquet-backed
    * corpus is provably small, so rows are the exact baseline's verbatim).
    * Both routes emit identical (d1, d2, cos) semantics; the IVF route's
    * pairs are a verbatim subset of exact (precision 1 by construction —
    * DedupSpec pins both the subset law and the conf-driven flip). */
  def embeddingDupAuto(emb: DataFrame, threshold: Double = 0.45): DataFrame =
    if (graft.plans.StatsRoute.exactAffordable(emb))
      embeddingDupPairs(emb, threshold).withColumn("route", lit("exact"))
    else
      embeddingDupPairsIvf(emb, threshold,
        nCells = graft.plans.StatsRoute.grownCells(emb))
        .withColumn("route", lit("ivf"))

  /** d39: stats-routed n-gram Jaccard dedup — [[embeddingDupAuto]]'s
    * routing rule ([[graft.plans.StatsRoute]]) applied to the d02/d03
    * pair: a PROVABLY small corpus takes the exact prefix-filtered
    * all-pairs baseline ([[ngramJaccardPairs]]); larger or UNKNOWN takes
    * the banded MinHash-LSH route ([[minHashLshPairs]]) whose candidate
    * set is banding-bounded instead of index-join-bounded. Both routes
    * emit identical (d1, d2, jaccard) semantics — LSH verifies candidates
    * with the same exact Jaccard, so its pairs are a verbatim subset of
    * exact (recall priced by the d23 S-curve; precision 1). The `route`
    * column makes the decision auditable and oracle-pinnable. */
  def jaccardAuto(docs: DataFrame, threshold: Double = 0.8,
                  k: Int = 3): DataFrame =
    if (graft.plans.StatsRoute.exactAffordable(docs))
      ngramJaccardPairs(docs, threshold, k).withColumn("route", lit("exact"))
    else
      minHashLshPairs(docs, threshold, k = k).withColumn("route", lit("lsh"))

  /** d40: stats-routed WEIGHTED Jaccard dedup — the same rule over the
    * d13/d14 pair: provably small → exact weighted all-pairs
    * ([[weightedJaccardPairs]]); larger or unknown → Ioffe CWS weighted
    * MinHash in the banded shape ([[weightedMinHashLshPairs]]). Same
    * subset law (CWS candidates verify with the exact weighted Jaccard),
    * same auditable `route` column. */
  def weightedJaccardAuto(docs: DataFrame, threshold: Double = 0.5,
                          k: Int = 3): DataFrame =
    if (graft.plans.StatsRoute.exactAffordable(docs))
      sharedWeightedJaccardPairs(docs, threshold, k)
        .withColumn("route", lit("exact"))
    else
      weightedMinHashLshPairs(docs, threshold, k = k)
        .withColumn("route", lit("cws"))

  /** Banded-MinHash candidate pairs over a shingle frame — the shared
    * candidate generator behind every LSH-routed scale path: (d1, d2)
    * with d1 < d2 where some band's signature slice collides. Cost is
    * banding-bounded (fixed-size signatures, one (band, bucket) shuffle),
    * never all-pairs; recall is the d23 S-curve of the (bands, rows)
    * choice. Verification is the CALLER's — each auto operator applies
    * its own exact kernel to the candidates, so precision is always 1. */
  private def lshCandidatePairs(sh: DataFrame, bands: Int,
                                rowsPerBand: Int): DataFrame = {
    val buckets = bandBuckets(minhashAgg(sh, bands * rowsPerBand), bands, rowsPerBand)
    buckets.select(col("doc_id").as("d1"), col("band"), col("bucket"))
      .join(buckets.select(col("doc_id").as("d2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** The LSH-routed CONTAINMENT scale path — d12's semantics (directed
    * pairs, containment = |A∩B| / |A| ≥ τ) with candidates from MinHash
    * banding instead of the full prefix-filtered posting join: candidates
    * verify with the SAME exact array-intersection count, so emitted
    * pairs are a verbatim subset of d12's (precision 1). Honest recall
    * caveat, scaladoc'd not hidden: banding collides on JACCARD, so a
    * contained-short-in-long pair whose Jaccard is far below the banding
    * curve can be missed — the class d12's exact index join exists for.
    * At scale that is the standing trade: the banded route bounds the
    * candidate volume; when the short-in-long class matters, run d12's
    * exact route on the (smaller) suspect slice. Both orientations of a
    * candidate verify (containment is directed). */
  def containmentLshPairs(docs: DataFrame, threshold: Double = 0.9,
                          bands: Int = 16, rowsPerBand: Int = 2,
                          k: Int = 3): DataFrame = {
    val sh = sharedShingles(docs, k)
    val cand = lshCandidatePairs(sh, bands, rowsPerBand)
    val both = cand.unionAll(cand.select(col("d2").as("d1"), col("d1").as("d2")))
    val sets = sharedShingleArrays(sh)
    both
      .join(sets.select(col("doc_id").as("d1"), col("shset").as("s1"), col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shset").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("s1"), col("s2"))).cast("double") /
          col("n1").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** d41: stats-routed CONTAINMENT dedup — [[graft.plans.StatsRoute]]'s
    * rule over the d12 pair: a corpus the planner PROVES small runs the
    * exact asymmetric prefix-filtered index join ([[containmentPairs]] —
    * full recall on the short-in-long class); larger or UNKNOWN routes to
    * the banded candidates verified with the same exact containment
    * ([[containmentLshPairs]] — a verbatim subset, recall priced by the
    * d23 curve and the Jaccard-vs-containment gap). The `route` column
    * makes the decision auditable and oracle-pinnable. */
  def containmentAuto(docs: DataFrame, threshold: Double = 0.9,
                      k: Int = 3): DataFrame =
    if (graft.plans.StatsRoute.exactAffordable(docs))
      sharedContainmentPairs(docs, threshold, k).withColumn("route", lit("exact"))
    else
      containmentLshPairs(docs, threshold, k = k).withColumn("route", lit("lsh"))

  /** The LSH-routed EDIT-DISTANCE scale path — d19's semantics (ordered
    * pairs, thresholded Levenshtein + normalized sim) with candidates
    * from MinHash banding instead of the exact length-band block join:
    * candidates verify with the SAME native bounded-DP kernel, so
    * emitted rows are a verbatim subset of d19's (precision 1; dist and
    * sim identical where emitted). Recall caveat, honest: banding
    * collides on shingle Jaccard, which tracks edit distance only for
    * texts long enough to shingle — d19's exact length blocking stays
    * the route for short-text corpora, and the auto routes there exactly
    * when the planner proves the corpus small enough to afford it. */
  def editLshPairs(docs: DataFrame, maxDist: Int = 32,
                   bands: Int = 16, rowsPerBand: Int = 2,
                   k: Int = 3): DataFrame = {
    import graft.plans.EditFilter
    require(maxDist >= 1, s"maxDist=$maxDist must be >= 1")
    val cand = lshCandidatePairs(sharedShingles(docs, k), bands, rowsPerBand)
    val txt = docs.select(col("doc_id"), col("text"), length(col("text")).as("l"))
    cand
      .join(txt.select(col("doc_id").as("d1"), col("text").as("t1"),
        col("l").as("l1")), "d1")
      .join(txt.select(col("doc_id").as("d2"), col("text").as("t2"),
        col("l").as("l2")), "d2")
      .where(abs(col("l1") - col("l2")) <= maxDist)
      .withColumn("dist", EditFilter.levBounded(col("t1"), col("t2"), maxDist))
      .where(col("dist") >= 0)
      .select(col("d1"), col("d2"), col("dist"),
        when(greatest(col("l1"), col("l2")) === 0, lit(1.0))
          .otherwise(lit(1.0) - col("dist").cast("double")
            / greatest(col("l1"), col("l2")).cast("double")).as("sim"))
  }

  /** d42: stats-routed EDIT-DISTANCE dedup — the rule over the d19 pair:
    * provably small → the exact length-band block join
    * ([[editDistancePairs]], full recall by the |Δlen| pigeonhole);
    * larger or unknown → banded candidates verified with the same
    * bounded-Levenshtein kernel ([[editLshPairs]], verbatim subset).
    * Auditable `route` column, oracle-pinned at test SF. */
  def editAuto(docs: DataFrame, maxDist: Int = 32, k: Int = 3): DataFrame =
    if (graft.plans.StatsRoute.exactAffordable(docs))
      sharedEditPairs(docs, maxDist).withColumn("route", lit("exact"))
    else
      editLshPairs(docs, maxDist, k = k).withColumn("route", lit("lsh"))

  /** d23: the banded-LSH parameter planner — the S-curve
    * P[candidate](s) = 1 − (1 − s^r)^b tabulated over a similarity grid
    * for each (bands, rowsPerBand) configuration, with each config's
    * expected false-positive and false-negative mass around the target
    * threshold (the Riemann sums of the curve below τ and of its
    * complement above τ). This is the tuning artifact consulted BEFORE
    * committing a 100 TB corpus to a banding (d03's 16×4 and d14's 16×2
    * were chosen from exactly this curve): a config whose fp mass is high
    * floods the verify stage with sub-threshold candidates (wasted exact
    * Jaccard work — the dominant LSH cost at scale); one whose fn mass is
    * high silently misses near-dups no verify can recover. Pure
    * model-scale math (|grid|·|configs| rows from literals — no corpus
    * scan at all), but a first-class registered operator because the
    * decision it drives is a corpus-scale commitment.
    *
    * Exactness discipline: s^r and (1 − s^r)^b are LEFT-ASSOCIATIVE
    * MULTIPLICATION CHAINS (r, b are small integers), generated
    * identically into the Spark plan and the oracle SQL — repeated IEEE
    * multiplication of identical doubles is bit-deterministic, where
    * pow() is a libm call two engines may round differently in the last
    * ulp. Grid points are decimal literals parsed by both engines (never
    * derived arithmetically — i·0.05 ≠ literal 0.15 in binary). The fp/fn
    * sums add the same doubles in the same grid order both sides (window
    * sum over an explicit ORDER). Everything hash-checks unrounded. */
  def lshPlanCurve(spark: org.apache.spark.sql.SparkSession,
                   threshold: Double = 0.8,
                   configs: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8), (16, 2), (64, 1))): DataFrame = {
    import spark.implicits._
    val grid = LshPlan.gridLiterals
    val rows = for {
      (b, r) <- configs
      sLit <- grid
    } yield (b, r, sLit)
    val base = rows.toDF("bands", "rows_per_band", "s_lit")
      .select(col("bands"), col("rows_per_band"),
        col("s_lit").cast("double").as("s"))
    // s^r then 1-(1-s^r)^b as explicit multiplication chains per config:
    // the chain length depends on (b, r), so build one projection per
    // config and union — each branch's expression is a literal-free fold
    // over the s column, identical in shape to the oracle's SQL text.
    val curves = configs.map { case (b, r) =>
      val sCol = col("s")
      val sr = (2 to r).foldLeft(sCol)((acc, _) => acc * sCol)
      val u = lit(1.0) - sr
      val ub = (2 to b).foldLeft(u)((acc, _) => acc * u)
      base.where(col("bands") === b && col("rows_per_band") === r)
        .select(col("bands"), col("rows_per_band"), col("s"),
          (lit(1.0) - ub).as("p_candidate"))
    }.reduce(_ unionAll _)
    // fp mass: sum of p below tau; fn mass: sum of (1-p) at/above tau.
    // A plain float sum() is summation-order-nondeterministic across
    // partitions; both engines instead fold in ASCENDING-s order (Spark:
    // sorted collect + aggregate fold; DuckDB: sum(… ORDER BY s)) so the
    // doubles add left-to-right identically and hash unrounded.
    val agg = curves.groupBy(col("bands"), col("rows_per_band"))
      .agg(collect_list(struct(col("s"), col("p_candidate"))).as("sp"))
      .select(col("bands"), col("rows_per_band"),
        expr(s"aggregate(array_sort(sp), CAST(0.0 AS DOUBLE), " +
          s"(a, x) -> a + (CASE WHEN x.s < $threshold THEN x.p_candidate ELSE 0.0D END))").as("fp_mass"),
        expr(s"aggregate(array_sort(sp), CAST(0.0 AS DOUBLE), " +
          s"(a, x) -> a + (CASE WHEN x.s >= $threshold THEN 1.0D - x.p_candidate ELSE 0.0D END))").as("fn_mass"))
    curves.join(agg, Seq("bands", "rows_per_band"))
      .select(col("bands"), col("rows_per_band"), col("s"),
        col("p_candidate"), col("fp_mass"), col("fn_mass"))
  }

  /** d33: MinHash estimator calibration — for every verified near-dup
    * pair, the nComp-component MinHash ESTIMATE of its jaccard next to
    * the exact value and the absolute error: the empirical check of the
    * Broder bound (Var = J(1−J)/nComp) that justifies d03/d23's choice
    * of signature size. d18/d23 predict candidate-recall from the banding
    * FORMULA; this measures the estimator itself on the corpus's own
    * pairs — the number a pipeline owner reads before shrinking
    * signatures to save shuffle bytes.
    *
    * Portability: components are min(md5("mh<i>:" ++ shingle)) over the
    * d02 STRING shingles — the md5Hash60 fold DuckDB replays exactly
    * (the d04 convention; production signatures stay on xxhash64, this
    * probe pays the md5 tax for an exact oracle). est = matches/nComp
    * and err = |est − jaccard| are single IEEE ops on exact ints and the
    * pair's own jaccard — bit-stable, nothing rounded.
    *
    * Scale shape: one doc-keyed partial-agg exchange builds the
    * nComp-column signature frame (nComp·|shingles| scan-local hashes);
    * the pair probe is two id-keyed joins of that nDocs-row frame — the
    * d12 verify shape; output ∝ verified pairs. */
  def minhashCalibration(docs: DataFrame, nComp: Int = 16,
                         threshold: Double = 0.8, bands: Int = 16,
                         rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    require(nComp > 0, s"nComp=$nComp must be > 0")
    val sh = docs.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), k)).as("shingle"))
    val comps = (0 until nComp).map(i =>
      min(md5Hash60(concat(lit(s"mh$i:"), col("shingle")))).as(s"m$i"))
    val mins = sh.groupBy(col("doc_id")).agg(comps.head, comps.tail: _*)
    def side(p: String) = mins.select(
      col("doc_id").as(p + "id") +:
        (0 until nComp).map(i => col(s"m$i").as(s"$p$i")): _*)
    val matches = (0 until nComp).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    minHashLshPairs(docs, threshold, bands, rowsPerBand, k)
      .join(side("a"), col("d1") === col("aid"))
      .join(side("b"), col("d2") === col("bid"))
      .withColumn("est_matches", matches)
      .select(col("d1"), col("d2"), col("jaccard"), col("est_matches"),
        (col("est_matches").cast("double") / lit(nComp.toDouble)).as("est_jaccard"),
        abs(col("est_matches").cast("double") / lit(nComp.toDouble) -
          col("jaccard")).as("err"))
  }

  /** Tables adapter used by SparkEntry. */
  def docs(t: Tables): DataFrame = t.documents
}

/** Shared literal grid + oracle generation for [[Dedup.lshPlanCurve]]. */
object LshPlan {

  /** Similarity grid as DECIMAL LITERAL STRINGS — both engines parse the
    * same text to the same nearest double; deriving i·0.05 arithmetically
    * would yield a different double than the literal on some points. */
  val gridLiterals: Seq[String] =
    (1 to 19).map(i => f"0.${i * 5}%02d") // 0.05, 0.10, …, 0.95

  /** The DuckDB oracle for d23 — the same configs, the same literal
    * grid, the same multiplication chains, the same windowed sums. */
  def oracleSql(threshold: Double,
                configs: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8), (16, 2), (64, 1))): String = {
    val rows = (for {
      (b, r) <- configs
      s <- gridLiterals
    } yield s"($b, $r, $s)").mkString(",\n  ")
    val curveCases = configs.map { case (b, r) =>
      val sr = (1 to r).map(_ => "s").mkString(" * ")
      val u = s"(1.0 - ($sr))"
      val ub = (1 to b).map(_ => u).mkString(" * ")
      s"WHEN bands = $b AND rows_per_band = $r THEN 1.0 - ($ub)"
    }.mkString("\n   ")
    s"""WITH g0(bands, rows_per_band, s_lit) AS (VALUES
       |  $rows),
       |g AS (SELECT bands, rows_per_band, CAST(s_lit AS DOUBLE) AS s FROM g0),
       |c AS (SELECT bands, rows_per_band, s,
       |  CASE $curveCases END AS p_candidate
       |  FROM g),
       |a AS (SELECT bands, rows_per_band,
       |  sum(CASE WHEN s < $threshold THEN p_candidate ELSE 0.0 END ORDER BY s) AS fp_mass,
       |  sum(CASE WHEN s >= $threshold THEN 1.0 - p_candidate ELSE 0.0 END ORDER BY s) AS fn_mass
       |  FROM c GROUP BY bands, rows_per_band)
       |SELECT c.bands, c.rows_per_band, c.s, c.p_candidate, a.fp_mass, a.fn_mass
       |FROM c JOIN a USING (bands, rows_per_band)""".stripMargin
  }

}
