package graft.operators

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the documents table (LLM-pipeline surface).
  * Thin compositions of the TextFns column library — everything stays in
  * whole-stage codegen; one narrow scan of (doc_id, text[, lang]). */
object TextQueries {

  /** The (doc_id, token) explosion for `docs`, through [[graft.Memo]]:
    * t06, t07 and t10 all explode it (and t06 otherwise scans it TWICE —
    * LM fit + scoring join). The token frame is corpus-sized rows but two
    * narrow columns — the standard memory-for-rescan trade SURVEY §8.4
    * prices for t06. */
  def sharedTokens(docs: DataFrame): DataFrame =
    graft.Memo.frame("TextQueries.tokens", docs)(
      docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token")))

  /** t01: per-document token statistics. */
  def t01TokenStats(t: Tables): DataFrame = {
    val text = col("text")
    t.documents.select(
      col("doc_id"),
      TextFns.tokenCount(text).as("n_tokens"),
      TextFns.bpeishCount(text).as("n_bpeish"),
      TextFns.meanTokenLen(text).as("mean_token_len"),
      TextFns.alphaRatio(text).as("alpha_ratio"))
  }

  /** t02: language-ID heuristic vs the labeled lang column (confusion
    * counts). */
  def t02LangId(t: Tables): DataFrame =
    t.documents
      .select(col("lang"),
        TextFns.stopwordHits(col("text"), TextFns.stopEn).as("c_en"),
        TextFns.stopwordHits(col("text"), TextFns.stopDe).as("c_de"),
        TextFns.stopwordHits(col("text"), TextFns.stopEs).as("c_es"),
        TextFns.stopwordHits(col("text"), TextFns.stopFr).as("c_fr"))
      .select(col("lang"), TextFns.langGuessOfCounts(
        col("c_en"), col("c_de"), col("c_es"), col("c_fr")).as("guess"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))

  /** t03: composite quality score per document. */
  def t03Quality(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("double").as("nt"),
        TextFns.alphaRatio(col("text")).as("ar"),
        TextFns.stopwordRatio(col("text")).as("sr"))
      .select(col("doc_id"),
        TextFns.qualityScoreOf(col("nt"), col("ar"), col("sr")).as("quality"))

  /** t06: unigram-LM perplexity scoring — the CCNet-style statistical
    * quality filter: fit a unigram language model on the corpus (token
    * relative frequencies), then score every document by its average
    * per-token negative log-likelihood and perplexity. Documents whose
    * token distribution diverges from the corpus (gibberish, boilerplate,
    * wrong-language shards) land in the high-perplexity tail; the caller
    * thresholds there. CCNet uses a 5-gram KenLM — the unigram model is the
    * degenerate, exactly-reproducible member of that family, which is what
    * makes this oracle-checkable.
    *
    * Scale shape: the LM fit is one partial-aggregated exchange on token
    * (vocab-bounded output, not corpus-bounded); the total-count reduce
    * runs over the vocab-sized LM table, not the corpus. Scoring joins the
    * exploded corpus against the BROADCAST LM (vocabularies are millions of
    * rows — megabytes — while the corpus is the 100 TB side), then one
    * exchange on doc_id for the per-doc sum. The fit and the scoring pass
    * both read the SHARED persisted token frame ([[sharedTokens]], also
    * reused by t07/t09/t10) — the corpus itself is tokenized once per
    * session, not twice per query. avg_nll is a float aggregate, so it is
    * rounded (6 dp)
    * like every other aggregated double in the oracle surface; ppl is
    * derived from the ROUNDED avg_nll so the two columns can never
    * disagree across engines.
    */
  def t06UnigramPpl(t: Tables): DataFrame = unigramPpl(t.documents)

  /** See [[t06UnigramPpl]]; the library surface takes any (doc_id, text)
    * frame so the LM can be fit on one corpus and thresholds audited on a
    * planted one. Through [[graft.Memo]] — t06 serves the scores and p43's
    * band prune reads them TWICE (percentile bounds + the band filter), so
    * the LM fit + scoring joins run once per session. */
  def unigramPpl(docs: DataFrame): DataFrame =
    graft.Memo.frame("TextQueries.unigramPpl", docs)(unigramPplOf(docs))

  /** The t06 kernel over a caller-managed lifecycle (no memo). */
  def unigramPplOf(docs: DataFrame): DataFrame = {
    val tok = sharedTokens(docs) // scanned twice (fit + score) → memoized
    val lm = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
    // total tokens: a sum over the vocab-sized LM table, folded into the
    // plan as a broadcast 1-row crossJoin (the q33 scalar-subquery shape) —
    // CONSTRUCTING this DataFrame launches zero jobs; a .head() here would
    // fire a corpus scan per construction and re-pay it on every retry
    val total = lm.agg(sum(col("c")).cast("double").as("total"))
    val logp = lm.crossJoin(broadcast(total))
      .select(col("token"), log(col("c") / col("total")).as("logp"))
    tok.join(broadcast(logp), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("logp")).as("sll"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("sll") / col("n_tokens"), 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** t09: bigram-LM perplexity with add-one smoothing — one order up from
    * t06 toward CCNet's KenLM scoring, still exactly reproducible:
    * p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V), with c(w₁·) the count of bigrams
    * starting with w₁ and V the corpus vocabulary size (the smoothing mass
    * that keeps unseen continuations finite). Documents score by average
    * bigram NLL; short docs (< 2 tokens) carry the whole-text pseudo-bigram,
    * the t05 convention, identically in both engines.
    *
    * Scale shape: bigram counts = one partial-aggregated exchange
    * (bigram-type-bounded); the prefix counts derive from the bigram table
    * (NOT another corpus scan); scoring joins the exploded corpus against
    * the BROADCAST bigram LM, then one doc_id exchange. avg_nll rounds at
    * 6 dp and ppl derives from the rounded value — the t06 float rule.
    */
  def t09BigramPpl(t: Tables): DataFrame = {
    val docs = t.documents
    val bg = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(TextFns.bigramsOfTokens(col("toks"))).as("bigram"))
    // vocabulary size as an in-plan 1-row aggregate (the t06 crossJoin
    // shape) — zero jobs at construction, counted over the shared token
    // frame rather than a fresh corpus scan
    val vocab = sharedTokens(docs)
      .agg(countDistinct(col("token")).cast("double").as("vocab"))
    val lm2 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    // prefix counts as a w1-partitioned window SUM over the bigram table
    // (the t27/t18 recipe — guide §2.4): the former groupBy(w1) + join-back
    // re-exchanged the vocabulary-bounded LM twice and planned a join;
    // the window needs ONE w1 exchange and c1 is the same exact long sum
    // of c12 per prefix, attached to every bigram row in place.
    val wPrefix = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val logp = lm2.withColumn("c1", sum(col("c12")).over(wPrefix))
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), log((col("c12") + 1) / (col("c1") + col("vocab"))).as("logp"))
    bg.join(broadcast(logp), Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp")).as("sll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sll") / col("n_bigrams"), 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** t07: unigram (token) entropy per document — the Shannon-entropy
    * member of the repetition/quality family: low entropy flags template
    * and spam docs whose token mass concentrates on few types (t05's
    * fractions see the top element; entropy sees the whole distribution).
    * H = ln n − (Σ c·ln c)/n over the doc's token counts, computed in that
    * single-fraction form so each engine evaluates ONE aggregated double
    * (rounded 6 dp, the q01 rule) instead of a per-type p·ln p sum.
    *
    * Scale shape: one exchange on (doc_id, token) for the type counts
    * (partial-aggregated), one on doc_id for the entropy fold — both
    * key-bounded.
    */
  def t07TokenEntropy(t: Tables): DataFrame = {
    val tok = sharedTokens(t.documents)
    tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        round(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 6)
          .as("entropy"))
  }

  /** t10: TF-IDF keyword extraction — the top-k terms per document by
    * tf·idf with the smoothed idf = ln((N+1)/(df+1)) + 1 (the
    * scikit-learn/standard smoothing, never log 0, never a zero weight).
    * The per-doc topic-signature step corpus tooling runs for document
    * summaries, dataset cards and cluster labeling. Deterministic ranking:
    * (rounded tfidf desc, term asc) — both engines rank on the ROUNDED
    * score, the t06 float rule, so order can never disagree at a rounding
    * boundary.
    *
    * Scale shape: term counts = one partial-aggregated exchange on
    * (doc_id, term); document frequencies derive from the term table
    * (distinct + vocab-bounded agg, NOT a corpus rescan); N folds in as a
    * 1-row broadcast crossJoin (zero jobs at construction, the t06 shape);
    * the df table is BROADCAST back (vocab-sized, megabytes); the final
    * rank is a per-doc window bounded by doc vocabulary. */
  def t10TfidfKeywords(t: Tables, k: Int = 3): DataFrame = tfidfKeywords(t.documents, k)

  /** See [[t10TfidfKeywords]]; the library surface takes any (doc_id, text)
    * frame. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tok = sharedTokens(docs).select(col("doc_id"), col("token").as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val scored = tf.join(broadcast(dfreq), Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * (log((col("n") + 1) / (col("df") + 1)) + 1), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** t11: readability scoring — Flesch reading ease over regex-derived
    * counts: words (the t01 token count), sentences (runs of [.!?],
    * floored at 1), syllables approximated as vowel-group runs (the
    * standard cheap estimator). flesch = 206.835 − 1.015·(w/s) −
    * 84.6·(syll/w). A quality-pipeline signal complementary to t03/p13:
    * extremely low readability flags OCR noise and boilerplate, extremely
    * high flags telegraphic spam.
    *
    * Exactness: all three counts are integers both engines derive from
    * the same regexes, and the score is plain IEEE arithmetic on them
    * (single divisions and multiplies — bit-identical, so NO rounding is
    * needed, the "never round plain projections" rule). Zero shuffle. */
  def t11Readability(t: Tables): DataFrame = readability(t.documents)

  /** See [[t11Readability]]; library surface over any (doc_id, text). */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        TextFns.tokenCount(col("text")).as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("n_sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206.835)
          - lit(1.015) * (col("n_words") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") / col("n_words"))).as("flesch"))

  /** t19: encoding-noise scoring — the transport-damage signal the quality
    * family (t03/p13/t11) does not look for: per document, counts of
    * U+FFFD replacement characters (decoder already gave up), raw C0
    * control characters other than tab/newline/carriage-return (binary
    * junk, broken escapes), and the classic UTF-8-read-as-Latin-1
    * mojibake markers ('Ã' = 0xC3 lead byte mis-decoded, 'â€' = the
    * smart-quote/dash family mis-decoded). Web-scrape pipelines threshold
    * on this before any token-level scoring — mojibake text tokenizes
    * into garbage that poisons LM statistics while passing length/
    * stopword gates.
    *
    * Exactness: all three counts are integer regex counts over literal
    * characters / one character class, noise_frac is the single guarded
    * IEEE division (unrounded, the q28 rule). Zero shuffle — one scan
    * projection, the t01/t03 class. */
  def t19EncodingNoise(t: Tables, maxFrac: Double = 0.01): DataFrame =
    encodingNoise(t.documents, maxFrac)

  /** See [[t19EncodingNoise]]; library surface over any (doc_id, text). */
  def encodingNoise(docs: DataFrame, maxFrac: Double = 0.01): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("n_chars"),
        regexp_count(col("text"), lit("�")).as("n_replacement"),
        regexp_count(col("text"),
          lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).as("n_control"),
        regexp_count(col("text"), lit("Ã|â€")).as("n_mojibake"))
      .select(col("doc_id"), col("n_chars"), col("n_replacement"),
        col("n_control"), col("n_mojibake"),
        when(col("n_chars") === 0, lit(0.0))
          .otherwise((col("n_replacement") + col("n_control")
            + col("n_mojibake")).cast("double") / col("n_chars"))
          .as("noise_frac"))
      .withColumn("clean", col("noise_frac") <= maxFrac)

  /** t12: lexical diversity — type-token ratio, hapax fraction (share of
    * token TYPES occurring exactly once) and distinct-bigram ratio: the
    * vocabulary-richness complement of t05/t07 (repetition sees the top of
    * the distribution, entropy its shape; diversity sees its SUPPORT —
    * template spam scores low on all three, but machine-generated text
    * with a rotated template scores high-entropy yet low-hapax). All six
    * outputs are integers or single integer-derived IEEE divisions —
    * unrounded, the t05/q28 rule.
    *
    * Scale shape: type counts ride the SHARED token frame (one exchange on
    * (doc_id, token), partial-aggregated), then one doc_id exchange for the
    * fold; the bigram stats are scan-local array expressions (size/
    * array_distinct over the per-doc bigram array) joined back on doc_id —
    * every exchange key-bounded, nothing corpus-shuffled twice. */
  def t12LexicalDiversity(t: Tables): DataFrame = lexicalDiversity(t.documents)

  /** See [[t12LexicalDiversity]]; library surface over any (doc_id, text). */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val uni = sharedTokens(docs)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val bg = docs
      .select(col("doc_id"),
        TextFns.bigramsOfTokens(TextFns.tokens(col("text"))).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).as("n_bigrams"),
        size(array_distinct(col("bg"))).as("n_distinct_bigrams"))
    uni.join(bg, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"),
        (col("n_distinct_bigrams").cast("double") / col("n_bigrams")).as("bigram_ttr"))
  }

  /** t13: cross-source vocabulary overlap — pairwise Jaccard similarity of
    * the distinct-token vocabularies of every source pair: the domain-
    * similarity matrix mixing decisions (p08's α, dedup scoping, eval-set
    * placement) consult — two sources with near-identical vocabularies are
    * one domain for mixing purposes, however their doc counts differ.
    *
    * Scale shape: the (source, token) distinct set partial-aggregates off
    * the shared token frame (one exchange, vocab×sources-bounded); per-
    * source sizes are a tiny agg; candidate pairs come from a self-join ON
    * TOKEN over that vocab-bounded frame (never over the corpus), and the
    * final jaccard is integer-derived — one IEEE division, unrounded (the
    * t05 rule). Output ∝ source-pairs. */
  def t13VocabOverlap(t: Tables): DataFrame = vocabOverlap(t.documents)

  /** See [[t13VocabOverlap]]; library surface over any (doc_id, source,
    * text) frame. */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    // the same `docs` plan as t06/t07/t09/t10 so the memoized token frame
    // is shared, not re-keyed by a projection
    val st = sharedTokens(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("token")).distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // r15: shared-token pairs generate MAP-SIDE from the per-token source
    // set (the q93 slice rule) — the token-keyed SELF-JOIN re-exchanged
    // the full vocabulary twice to build the same (s1 < s2) pairs the
    // ≤#sources-sized set yields in place; sort_array's binary order is
    // exactly the `<` the join filtered on, so the pair set is identical
    val common = st.groupBy(col("token"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS s1, y AS s2))))"))
        .as("pr"))
      .groupBy(col("pr.s1").as("s1"), col("pr.s2").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("source").as("s1"), col("n").as("n1")), Seq("s1"))
      .join(sizes.select(col("source").as("s2"), col("n").as("n2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
  }

  /** t14: per-source Zipf-law fit — regress ln(freq) on ln(rank) over each
    * source's token frequency table. Natural text follows Zipf's law with
    * exponent ≈ −1 and a tight fit; template spam, synthetic/generated
    * text, and boilerplate-heavy shards bend the curve (slope far from −1,
    * low r²), so the (slope, r²) pair is the corpus-health diagnostic a
    * data card reports per source and a pipeline alerts on — the
    * distributional complement of t05's per-document repetition signals.
    *
    * Float discipline: ranks and frequencies are exact integers; ln is the
    * t06/t07 precedent (both engines' libm agree on these inputs), and the
    * regression outputs are O(1) by construction, rounded at 6 dp to
    * absorb merge-order noise (the q52 rule).
    *
    * Scale shape: one (source, token) partial-aggregated exchange off the
    * shared token frame; the rank window and the regression both run over
    * the VOCABULARY (types, not tokens) per source — MBs at 100 TB, the
    * t13 bound. */
  def t14ZipfFit(t: Tables): DataFrame = zipfFit(t.documents)

  /** See [[t14ZipfFit]]; library surface over (doc_id, source, text). */
  def zipfFit(docs: DataFrame): DataFrame = {
    val freqs = sharedTokens(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("freq").desc, col("token"))
    freqs
      .withColumn("rnk", row_number().over(w))
      .select(col("source"),
        log(col("rnk").cast("double")).as("lr"),
        log(col("freq").cast("double")).as("lf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        round(regr_slope(col("lf"), col("lr")), 6).as("zipf_slope"),
        round(regr_r2(col("lf"), col("lr")), 6).as("zipf_r2"))
  }

  /** t21: per-source token-frequency concentration (Gini coefficient) —
    * how unequally a source's token mass is distributed over its
    * vocabulary. Natural prose concentrates moderately (function words
    * dominate but the tail is fat); template/boilerplate shards
    * concentrate extremely (a few tokens carry nearly all mass → Gini
    * near 1), and ID-like or synthetic-unique shards are nearly uniform
    * (Gini near 0). The single-number inequality summary complements
    * t14's Zipf fit (shape of the rank curve) and t07's per-doc entropy
    * (this is the SOURCE-level concentration, where drift signals a
    * scraper regression before any per-doc gate fires).
    *
    * Exactness discipline: with frequencies f₁ ≤ … ≤ f_V ranked
    * ascending (token tiebreak — one total order both engines agree on),
    * Gini = Σᵢ (2i − V − 1)·fᵢ / (V·Σfᵢ). Numerator and denominator are
    * EXACT LONG sums (every term integer), so the only float is the one
    * final IEEE division — the d02 rule; hash-checks unrounded.
    *
    * Scale shape: one (source, token) partial-aggregated exchange off the
    * shared token frame, then the rank window and the sum run over the
    * VOCABULARY per source (types, not tokens — the t13/t14 bound). */
  def tokenGini(docs: DataFrame): DataFrame = {
    val freqs = sharedTokens(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("freq"), col("token"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    freqs
      .select(col("source"), col("freq"),
        row_number().over(w).cast("long").as("rnk"),
        count(lit(1)).over(wAll).as("v"))
      .groupBy(col("source"))
      .agg(max(col("v")).as("n_types"),
        sum(col("freq")).as("n_tokens"),
        sum((lit(2L) * col("rnk") - col("v") - lit(1L)) * col("freq")).as("num"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        (col("num").cast("double") /
          (col("n_types") * col("n_tokens")).cast("double")).as("gini"))
  }

  /** t22: duplicate-n-gram token coverage — the fraction of a document's
    * TOKEN POSITIONS lying inside some n-gram that occurs at least twice
    * within the document (Gopher's "fraction of characters in duplicate
    * n-grams" family, token-granular; RefinedWeb/Dolma threshold it for
    * n = 5…10). Distinct from t05's signals: dup-token fraction counts
    * repeated TYPES, top-n-gram fraction measures only the single most
    * frequent gram — coverage measures how much of the document is woven
    * from ANY repeated phrase, the signature of looped boilerplate and
    * stutter-generation that per-type fractions undercount when many
    * different phrases each repeat a few times.
    *
    * Exactness discipline: gram equality, position sets and counts are
    * exact integers; the coverage is the one final IEEE division (the d02
    * rule — hash-checks unrounded). Documents shorter than n tokens have
    * no n-grams and cover 0 by definition.
    *
    * Scale shape: a pure scan-local HOF projection — zero shuffle, zero
    * joins; the per-doc duplicate test as written is O(m²) gram compares
    * inside the row (fine at document sizes; the O(m log m) alternative —
    * sort the grams, mark runs, map run membership back by position — is
    * the same fold t05 uses and the declared route if documents grow into
    * the million-token regime). */
  def dupNgramCoverage(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val covered =
      s"""CASE WHEN size(toks) >= $n THEN
         |  size(array_distinct(flatten(transform(
         |    filter(sequence(0, size(toks) - $n),
         |      i -> size(filter(grams, g -> g = element_at(grams, i + 1))) >= 2),
         |    i -> sequence(i, i + ${n - 1})))))
         |ELSE 0 END""".stripMargin
    docs
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("grams",
        expr(s"CASE WHEN size(toks) >= $n THEN transform(sequence(0, size(toks) - $n), " +
          s"i -> array_join(slice(toks, i + 1, $n), ' ')) ELSE array() END"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        expr(covered).cast("int").as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        when(col("n_tokens") > 0,
          col("n_covered").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("coverage"))
  }

  /** t23: language-ID confidence margin — t02's stopword-vote argmax with
    * its CONFIDENCE attached: the winning language's hit count, the
    * runner-up's, and the per-token margin (c₁ − c₂)/n_tokens. Production
    * language filters gate on confidence, not just the argmax (CCNet
    * keeps a page only when fastText's top-label score clears ~0.5;
    * low-margin pages are mixed, too short, or mis-ID'd chrome) — t16
    * flags WHERE the mix is (halves voting apart); t23 prices HOW SURE
    * the whole-doc call is, which is what a threshold gate consumes.
    *
    * Exactness discipline: hit counts are exact integers, top-2 selection
    * is a sorted 4-element integer array (identical in both engines), the
    * margin is the one final IEEE division, guarded for empty docs.
    *
    * Scale shape: a scan-local projection (the t02 shape with the counts
    * bound once in a prior projection) — zero shuffle, codegen-friendly. */
  def langMargin(docs: DataFrame): DataFrame = {
    val text = col("text")
    val counted = docs.select(col("doc_id"),
      TextFns.tokenCount(text).as("n_tokens"),
      TextFns.stopwordHits(text, TextFns.stopEn).as("c_en"),
      TextFns.stopwordHits(text, TextFns.stopDe).as("c_de"),
      TextFns.stopwordHits(text, TextFns.stopEs).as("c_es"),
      TextFns.stopwordHits(text, TextFns.stopFr).as("c_fr"))
    counted.select(col("doc_id"), col("n_tokens"),
      TextFns.langGuessOfCounts(
        col("c_en"), col("c_de"), col("c_es"), col("c_fr")).as("guess"),
      sort_array(array(col("c_en"), col("c_de"), col("c_es"), col("c_fr")),
        asc = false).as("sorted"))
      .select(col("doc_id"), col("guess"),
        col("sorted").getItem(0).as("c_top"),
        col("sorted").getItem(1).as("c_second"),
        col("n_tokens"),
        when(col("n_tokens") > 0,
          (col("sorted").getItem(0) - col("sorted").getItem(1)).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("margin"))
  }

  /** t15: pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the DISTRIBUTIONAL domain-distance matrix (t13's
    * vocab Jaccard asks "do they share words"; this asks "do they use
    * shared words at the same rates" — a boilerplate-stuffed mirror of a
    * source shares its vocabulary but not its distribution). JSD is
    * symmetric, bounded by ln 2, and finite even when supports differ —
    * the standard corpus-drift / domain-shift measure mixing and
    * curriculum decisions consult.
    *
    * Float discipline: per-source probabilities are single IEEE divisions
    * of exact integers (identical doubles both engines); the pair sum
    * uses the identity JSD = ln 2 + ½·Σ_t [p·ln p + q·ln q −
    * (p+q)·ln(p+q)], whose bracket VANISHES for any token present in only
    * one source — so the sum ranges over common tokens only (the t13
    * inner-join shape, no full-outer needed) and is the one aggregated
    * double, rounded at 6 dp (the q52 rule).
    *
    * Scale shape: one (source, token) partial-aggregated exchange off the
    * shared token frame, then the vocab-bounded self-join on token —
    * everything past the first agg is types×sources-sized (MBs at 100 TB,
    * the t13 bound); output ∝ source-pairs. */
  def t15JsDivergence(t: Tables): DataFrame = jsDivergence(t.documents)

  /** See [[t15JsDivergence]]; library surface over (doc_id, source, text). */
  def jsDivergence(docs: DataFrame): DataFrame = {
    val freqs = sharedTokens(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("freq"))
    val totals = freqs.groupBy(col("source")).agg(sum(col("freq")).as("total"))
    val probs = freqs.join(totals, Seq("source"))
      .select(col("source"), col("token"),
        (col("freq").cast("double") / col("total").cast("double")).as("p"))
    probs.select(col("source").as("s1"), col("token"), col("p"))
      .join(probs.select(col("source").as("s2"), col("token"), col("p").as("q")),
        Seq("token"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"),
        round(lit(math.log(2.0)) + lit(0.5) * sum(
          col("p") * log(col("p")) + col("q") * log(col("q")) -
            (col("p") + col("q")) * log(col("p") + col("q"))), 6).as("jsd"))
  }

  /** t16: code-switch / mixed-language detection — t02's stopword
    * language heuristic applied to each HALF of the document: a doc whose
    * halves vote for different languages is flagged (mixed-language pages
    * — boilerplate chrome in one language wrapping content in another,
    * concatenated scrapes, forum code-switching — hurt monolingual
    * models, and a whole-doc argmax hides exactly this case by averaging
    * the votes). All signals are integer stopword counts and fixed-order
    * comparisons (the t02 contract), so the verdict is hash-checkable.
    *
    * Scale shape: zero shuffle — one scan projection (tokenize, split at
    * the midpoint, count, argmax); the t01/p13 class. */
  def t16CodeSwitch(t: Tables): DataFrame = codeSwitch(t.documents)

  /** See [[t16CodeSwitch]]; library surface over (doc_id, text). */
  def codeSwitch(docs: DataFrame): DataFrame = {
    def hits(toks: Column, words: Seq[String]): Column =
      size(filter(toks, t => t.isInCollection(words)))
    val halves = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        floor(size(col("toks")) / lit(2)).cast("int").as("h"))
      .select(col("doc_id"),
        slice(col("toks"), lit(1), col("h")).as("t1"),
        slice(col("toks"), col("h") + lit(1), size(col("toks")) - col("h")).as("t2"))
    // counts bind as attributes before the guess projection (HOFs re-run
    // captured expressions per reference — the t02LangId rule)
    val counted = halves.select(
      col("doc_id"),
      hits(col("t1"), TextFns.stopEn).as("en1"), hits(col("t1"), TextFns.stopDe).as("de1"),
      hits(col("t1"), TextFns.stopEs).as("es1"), hits(col("t1"), TextFns.stopFr).as("fr1"),
      hits(col("t2"), TextFns.stopEn).as("en2"), hits(col("t2"), TextFns.stopDe).as("de2"),
      hits(col("t2"), TextFns.stopEs).as("es2"), hits(col("t2"), TextFns.stopFr).as("fr2"))
    counted.select(
      col("doc_id"),
      TextFns.langGuessOfCounts(col("en1"), col("de1"), col("es1"), col("fr1"))
        .as("guess_first"),
      TextFns.langGuessOfCounts(col("en2"), col("de2"), col("es2"), col("fr2"))
        .as("guess_second"))
      .withColumn("code_switched", col("guess_first") =!= col("guess_second"))
  }

  /** t17: out-of-vocabulary rate — per document, the fraction of tokens
    * outside the corpus' top-V vocabulary: the vocabulary-coverage quality
    * signal (CCNet-class pipelines use LM vocab coverage the same way) —
    * high-OOV docs are noise, OCR garbage, or domain outliers relative to
    * the corpus, and the rate also prices what a V-entry tokenizer/embedding
    * table would UNK away. Deterministic: the vocab cut orders by
    * (freq desc, token), so the V boundary can never disagree between
    * engines; the rate is one integer-derived division, unrounded.
    *
    * Scale shape: token frequencies partial-aggregate off the shared token
    * frame (vocab-bounded exchange); the top-V cut is per-partition heaps +
    * a driver merge of V×partitions rows (the q10 TakeOrdered shape, never
    * a global sort); the V-row vocab broadcasts back onto the token frame
    * and the per-doc fold is one doc_id-keyed exchange. */
  def t17OovRate(t: Tables, vocabSize: Int = 16): DataFrame =
    oovRate(t.documents, vocabSize)

  /** See [[t17OovRate]]; library surface over (doc_id, text). */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, s"vocabSize=$vocabSize must be > 0")
    val tok = sharedTokens(docs)
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  def t18Boilerplate(t: Tables): DataFrame = boilerplate(t.documents)

  /** t18: per-document boilerplate fraction — the share of a document's
    * shingles that are CORPUS-COMMON (document frequency ≥ `dfMin`): the
    * cross-document repetition signal t05 cannot see (t05 scores
    * repetition WITHIN a doc; a page whose chrome is repeated across ten
    * thousand pages is internally non-repetitive but mostly boilerplate).
    * The RefinedWeb/Dolma-class drop rule thresholds this fraction; d13
    * uses the same df to weight PAIRS, this scores each DOC standalone.
    *
    * Shape: df is one partial-aggregated exchange over the shared shingle
    * frame; the join back on shingle is t10's idf-join precedent (a hot
    * boilerplate shingle fans out by its df — exactly the skew AQE's
    * skew-join split handles, and exactly the rows the operator exists to
    * count); the per-doc rollup is one doc-keyed exchange. Counts are
    * exact longs; the fraction is one integer-derived division, unrounded
    * (the t12 rule). */
  def boilerplate(docs: DataFrame, k: Int = 3, dfMin: Long = 3): DataFrame = {
    require(dfMin >= 2, s"dfMin=$dfMin must be >= 2 (df >= 1 always)")
    val sh = Dedup.sharedShingles(docs, k) // (doc_id, shingle) distinct
    // r15: df as a shingle-partitioned window count instead of a separate
    // aggregate + join-back — one exchange of the shingle frame, not two
    // (the t27 rule); identical exact counts
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    sh.withColumn("df", count(lit(1)).over(wSh))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= dfMin, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles").cast("double"))
          .as("boiler_frac"))
  }

  /** t20: corpus-order novelty scoring — per document, the fraction of its
    * shingles appearing for the FIRST time in doc_id order (no earlier doc
    * contains them). The temporal complement of [[boilerplate]]: t18 asks
    * "how much of this page is corpus-common", t20 asks "how much did this
    * page ADD when it arrived" — the diminishing-novelty curve is the
    * standard diagnostic for when a crawl stops contributing (novelty per
    * source collapsing ⇒ stop crawling it; a syndication feed shows near-
    * zero novelty from its second member on), and the per-doc score is the
    * dedup-adjacent keep signal for ingestion-ordered corpora (doc_id =
    * arrival order here, the d08/d10 admission convention).
    *
    * Exact and order-deterministic: "first" is min(doc_id) per shingle —
    * a total rule both engines compute identically; counts are exact
    * longs, the fraction one unrounded integer-derived division (t18's
    * float rule).
    *
    * Shape: one partial-aggregated min per shingle over the shared
    * shingle frame (the t18/d13 exchange), the min-doc table joins back
    * on shingle (t10's idf precedent; a hot shingle fans out by its df —
    * AQE skew territory), then one doc-keyed rollup. At 100 TB the
    * min-doc table is vocabulary-bounded, never corpus-bounded. */
  def noveltyScore(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = Dedup.sharedShingles(docs, k) // (doc_id, shingle) distinct
    // r15: first_doc as a shingle-partitioned window min instead of a
    // separate aggregate + join-back (the t27/t18 rule) — one exchange
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    sh.withColumn("first_doc", min(col("doc_id")).over(wSh))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty_frac"))
  }

  /** t05: repetition signals (the Gopher-rule family) — fraction of repeated
    * tokens, most-frequent-token share, most-frequent-bigram share. The
    * canonical filter for template/spam/boilerplate docs in a training-data
    * pipeline. Tokens and bigrams bind as attributes in prior projections
    * (HOFs re-evaluate captured expressions per element — see
    * [[graft.functions.TextFns.shingleHashesOfTokens]]); all ratios are
    * integer-derived divisions, so DuckDB reproduces them bit-exactly. */
  def t05Repetition(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        TextFns.bigramsOfTokens(col("toks")).as("bg"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        TextFns.dupTokenFrac(col("toks")).as("dup_token_frac"),
        (TextFns.topElementCount(col("toks")).cast("double") /
          size(col("toks")).cast("double")).as("top_token_frac"),
        (TextFns.topElementCount(col("bg")).cast("double") /
          size(col("bg")).cast("double")).as("top_bigram_frac"))

  def t24Hapax(t: Tables): DataFrame = hapaxProfile(t.documents)

  def t25CodeScore(t: Tables): DataFrame = codeScore(t.documents)

  /** Code-keyword vocabulary for [[codeScore]] — common across the
    * mainstream languages a web corpus actually contains. */
  val codeWords: Seq[String] = Seq("def", "class", "import", "return", "if",
    "else", "for", "while", "function", "var", "const", "let", "void",
    "int", "public", "static", "null", "true", "false", "new")

  /** t25: code-likeness scoring — the prose/code router a training-data
    * pipeline needs before mixing (code belongs in a code stream with its
    * own dedup/quality rules; code INSIDE a prose corpus poisons n-gram
    * statistics the way mojibake does). Three integer signals, each too
    * weak alone, voting jointly:
    *   - symbol density: {}[]();=<> punctuation per character — prose
    *     stays near zero, code is structurally dense in exactly these;
    *   - keyword hits: whitespace tokens in a fixed cross-language
    *     vocabulary (def/class/return/const/…) — the t16 membership
    *     trick, so tokenization equals the oracle's;
    *   - camelCase/snake_case identifiers: word-internal case flips or
    *     underscores — the naming shapes natural language never produces.
    * code_score = symbol_frac + keyword and identifier rates (single
    * IEEE expression over exact integers); is_code thresholds it.
    *
    * Exactness: integer regexp counts, divisions on exact operands, one
    * boolean compare on the resulting double — deterministic both
    * engines. Zero shuffle: one scan projection (the t01/t19 class). */
  def codeScore(docs: DataFrame, threshold: Double = 0.09): DataFrame = {
    val nChars = greatest(length(col("text")), lit(1)).cast("long")
    val nToks = greatest(size(TextFns.tokens(col("text"))), lit(1)).cast("long")
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit("[{}\\[\\]();=<>]")).cast("long").as("n_symbols"),
        size(filter(TextFns.tokens(col("text")),
          tk => tk.isInCollection(codeWords))).cast("long").as("n_keywords"),
        regexp_count(col("text"), lit("\\b[a-z]+(?:[A-Z][a-z]*|_[a-z]+)[A-Za-z0-9_]*\\b"))
          .cast("long").as("n_idents"),
        nChars.as("n_chars_g"), nToks.as("n_tokens_g"))
      .select(col("doc_id"), col("n_symbols"), col("n_keywords"), col("n_idents"),
        ((col("n_symbols").cast("double") / col("n_chars_g").cast("double"))
          + (col("n_keywords").cast("double") / col("n_tokens_g").cast("double"))
          + (col("n_idents").cast("double") / col("n_tokens_g").cast("double")))
          .as("code_score"))
      .withColumn("is_code", col("code_score") >= threshold)
  }

  def t27Chi2Keyness(t: Tables): DataFrame = chi2Keyness(t.documents)

  /** t27: χ² keyness — the tokens that CHARACTERIZE each source versus
    * the rest of the corpus (Dunning/Rayson-style keyword extraction at
    * the collection level): per (source, token) the 2×2 contingency
    * χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) over occurrence counts
    * in-source vs elsewhere, keeping the top `k` OVER-represented tokens
    * (ad > bc) per source. t10 answers "what is this DOCUMENT about"
    * (tf-idf); this answers "what makes this SOURCE different" — the
    * signal that drives domain-mix decisions (p08/p26) and drift
    * explanations (p22 says distributions moved; t27 says which words).
    *
    * Exactness: a/b/c/d are exact longs from one token aggregation; χ²
    * is one fixed-shape IEEE expression with every factor pre-cast to
    * double (longs < 2⁵³ convert exactly; both engines multiply in the
    * same written order, so the doubles — and therefore the (χ² DESC,
    * token) ranking — are bit-identical); df ≥ 5 floor keeps
    * one-off tokens from dominating with huge sparse-cell χ².
    *
    * Scale shape: one (source, token) aggregation (map-side combined,
    * vocabulary-bounded output), per-token corpus totals derived FROM
    * that table (never a second corpus scan), per-source totals
    * broadcast back, one window pass over the vocabulary-sized keyness
    * table for the top-k. The corpus is scanned once. */
  def chi2Keyness(docs: DataFrame, k: Int = 5, minDf: Long = 5): DataFrame = {
    val st = sharedTokens(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("a"))
    // r15: tok_total as a token-partitioned window sum instead of a
    // separate groupBy + self-join — the join re-exchanged BOTH st and the
    // token totals on token; the window needs ONE exchange of st and no
    // join (rows per token ≤ #sources, so window chains are tiny). Same
    // exact integer totals.
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("a")).as("src_total"))
    val grand = st.agg(sum(col("a")).as("n_total"))
    val cells = st
      .withColumn("tok_total", sum(col("a")).over(wTok))
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(grand))
      .where(col("tok_total") >= minDf)
      .select(col("source"), col("token"), col("a"),
        (col("tok_total") - col("a")).as("b"),
        (col("src_total") - col("a")).as("c"),
        (col("n_total") - col("tok_total") - col("src_total") + col("a")).as("d"),
        col("n_total"))
      .where(col("a").cast("double") * col("d").cast("double") >
        col("b").cast("double") * col("c").cast("double"))
    val chi2 = cells.select(col("source"), col("token"), col("a"),
      (col("n_total").cast("double")
        * (col("a").cast("double") * col("d").cast("double")
          - col("b").cast("double") * col("c").cast("double"))
        * (col("a").cast("double") * col("d").cast("double")
          - col("b").cast("double") * col("c").cast("double"))
        / ((col("a") + col("b")).cast("double") * (col("c") + col("d")).cast("double")
          * (col("a") + col("c")).cast("double") * (col("b") + col("d")).cast("double")))
        .as("chi2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("chi2").desc, col("token"))
    chi2.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("token"), col("a").as("n_in_source"),
        (round(col("chi2"), 6) + lit(0.0)).as("chi2"))
  }

  def t28Blocklist(t: Tables): DataFrame = blocklistGate(t.documents)

  /** Default lexicon for [[blocklistGate]] — chosen to intersect the
    * synthetic corpus vocabulary so the operator exercises; production
    * swaps in a real brand-safety/toxicity list (the C4-style move). */
  val blockWords: Seq[String] = Seq("slow", "null", "error", "crash")
  val blockPhrases: Seq[String] = Seq("slow scan")

  /** t28: lexicon content gate — the C4-style blocklist filter every
    * production corpus build runs (brand-safety / toxicity / policy
    * lexicons): per document, token hits against a word list, DISTINCT
    * words hit, multi-word phrase hits (a phrase ban a token gate cannot
    * express), the hit rate, and the blocked verdict (rate over
    * threshold OR lexicon breadth ≥ 3 distinct words — breadth
    * distinguishes a document ABOUT a taboo topic from one that grazes
    * it). Token matching rides the exact t16 membership trick (so
    * tokenization ≡ the oracle's); phrases are literal regexp counts.
    *
    * Exactness: integer counts, one guarded division, one boolean
    * expression. Zero shuffle — the t01 scan-local class. */
  def blocklistGate(docs: DataFrame, words: Seq[String] = blockWords,
                    phrases: Seq[String] = blockPhrases,
                    maxRate: Double = 0.05): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nHits = size(filter(toks, tk => tk.isInCollection(words))).cast("long")
    val nDistinct = size(array_intersect(array_distinct(toks),
      array(words.map(lit): _*))).cast("long")
    val nPhrase = phrases.map(p => regexp_count(lower(col("text")), lit(p)))
      .reduce(_ + _).cast("long")
    val nToks = greatest(size(toks), lit(1)).cast("long")
    docs.select(col("doc_id"), nHits.as("n_hits"), nDistinct.as("n_distinct"),
        nPhrase.as("n_phrase"), nToks.as("n_tokens_g"))
      .select(col("doc_id"), col("n_hits"), col("n_distinct"), col("n_phrase"),
        (col("n_hits").cast("double") / col("n_tokens_g").cast("double"))
          .as("hit_rate"))
      .withColumn("blocked",
        col("hit_rate") > maxRate || col("n_distinct") >= 3 || col("n_phrase") > 0)
  }

  def t26PiiDensity(t: Tables): DataFrame = piiDensity(t.documents)

  /** t26: PII density — p04's scrub rules turned into a per-document
    * measurement: counts per PII class (email / NANP phone / dotted IPv4,
    * p04's exact patterns so the redactor and the detector can never
    * disagree) and matches per 1 000 characters. p04 REDACTS; this scores
    * — the gate/audit side: a doc whose density clears the threshold gets
    * routed to scrubbing or dropped, and the corpus-level sum is the
    * compliance number a curation report ships. Integer counts, density =
    * (n·1000)/chars exactly (integer numerator, one IEEE division), the
    * flag one compare. Zero shuffle. */
  def piiDensity(docs: DataFrame, maxPerKiloChar: Double = 1.0): DataFrame = {
    val rules = graft.operators.DataPipeline.piiRules
    val counts = rules.map(r => regexp_count(col("text"), lit(r.pattern)).cast("long"))
    docs.select(col("doc_id"),
        counts(0).as("n_email"), counts(1).as("n_phone"), counts(2).as("n_ip"),
        greatest(length(col("text")), lit(1)).cast("long").as("n_chars_g"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        (((col("n_email") + col("n_phone") + col("n_ip")) * lit(1000L)).cast("double")
          / col("n_chars_g").cast("double")).as("pii_per_kchar"))
      .withColumn("flagged", col("pii_per_kchar") > maxPerKiloChar)
  }

  /** t24: hapax-legomenon profile per document — how much of a doc's
    * vocabulary occurs exactly once (hapax) or exactly twice (dis
    * legomena). The standard lexical-richness signal complementing t12's
    * TTR: natural prose keeps a high hapax share at any length
    * (Zipf's tail), while template/generated text — high repetition,
    * shallow vocabulary — collapses it; conversely a hapax share of ~1.0
    * on a LONG doc flags token soup (random IDs, minified code, OCR
    * noise) that t03's character-level ratios miss. Useful as a quality
    * gate axis (p13-style) and as a feature for the t02/t23 family.
    *
    * Exactness: counts are exact longs off one (doc, token) frequency
    * aggregation; hapax_ratio is the single IEEE division of the d02
    * float rule. Scale shape: the memoized [[sharedTokens]] frame →
    * per-(doc, token) partial-aggregated counts → per-doc rollup: two
    * map-side-combining exchanges on corpus-sized but narrow frames,
    * no window, no explode beyond the shared tokenizer — scan-bound at
    * 100 TB exactly like t06/t07. */
  def hapaxProfile(docs: DataFrame): DataFrame =
    sharedTokens(docs)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio"))

  /** t29: token burstiness — the variance-to-mean ratio (VMR) of each
    * token's per-document count across the WHOLE corpus, zeros included
    * (Church & Gale 1995's burstiness; Katz's document clumping).
    * Function words spread ≈ Poisson (VMR ≈ 1); topical content words
    * clump (VMR ≫ 1); and a pathological VMR near its maximum S1 − …/N
    * means the token's entire mass sits in a handful of docs — the
    * template/spam marker. The per-TOKEN dispersion axis the corpus-
    * health family lacked: t14 checks the frequency-rank LAW, t24 counts
    * within-doc singletons, t27 contrasts sources; burstiness measures
    * how un-Poisson each token's spread is, which is what distinguishes
    * real topical text from template chrome at equal frequency.
    *
    * Exactness: with S1 = Σ counts, S2 = Σ counts², N = |docs| (zeros
    * contribute nothing to either sum), population VMR = var/mean
    * algebraically reduces to (N·S2 − S1²) / (N·S1) — exact longs into
    * ONE unrounded IEEE division (the t13 rule), so the result is
    * bit-identical in both engines; df ≥ minDf bounds the output to the
    * supported vocabulary. Never a per-doc vector or a N-way explode:
    * zeros exist only in the algebra.
    *
    * Scale shape: the memoized [[sharedTokens]] frame → (token, doc)
    * partial-aggregated counts → vocabulary-bounded per-token moments;
    * N folds in as a 1-row broadcast crossJoin (the q33 scalar shape —
    * constructing the frame launches zero jobs). Two map-side-combining
    * exchanges, scan-bound at 100 TB like t06/t07/t24. */
  def t29Burstiness(t: Tables): DataFrame = burstiness(t.documents)

  /** See [[t29Burstiness]]; core over any (doc_id, text) frame. */
  def burstiness(docs: DataFrame, minDf: Long = 10): DataFrame = {
    val tf = sharedTokens(docs)
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val stats = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .where(col("df") >= minDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(n))
      .select(col("token"), col("df"), col("s1").as("n_occurrences"),
        ((col("n_docs") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n_docs") * col("s1")).cast("double")).as("vmr"))
  }

  /** t30: Heaps'-law vocabulary growth — per source, regress
    * ln(types) on ln(tokens) across documents: Heaps' law V = K·nᵝ says
    * natural text grows vocabulary sub-linearly with β ≈ 0.4–0.6. The
    * growth-rate axis completing the corpus-health triptych: t14 fits
    * the frequency-rank LAW (Zipf), t21 measures mass concentration,
    * t30 fits how fast NEW types keep appearing — ID-spam and synthetic-
    * unique shards read β ≈ 1 (every token fresh), template chrome
    * β ≈ 0 (vocabulary saturates instantly); both pass length gates.
    *
    * Float discipline: the t14 rule verbatim — per-doc (tokens, types)
    * are exact longs, ln() of an exactly-converted long is one libm call
    * per engine, and the regression aggregates round at 6 dp where
    * merge-order noise lives (≈1e-13 relative against a 1e-6 boundary).
    *
    * Scale shape: per-doc type counts partial-aggregate off the
    * memoized [[sharedTokens]] frame ((doc, token) exchange, the t24
    * shape), then one source-bounded regression aggregation — the
    * corpus is scanned once, output ∝ |sources|. */
  def t30HeapsFit(t: Tables): DataFrame = heapsFit(t.documents)

  /** See [[t30HeapsFit]]; core over any (doc_id, source, text) frame. */
  def heapsFit(docs: DataFrame): DataFrame = {
    val perDoc = sharedTokens(docs)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"))
    perDoc
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"),
        log(col("n_tokens").cast("double")).as("ln_n"),
        log(col("n_types").cast("double")).as("ln_v"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(regr_slope(col("ln_v"), col("ln_n")), 6).as("heaps_beta"),
        round(regr_r2(col("ln_v"), col("ln_n")), 6).as("heaps_r2"))
  }

  /** t32: language-label conflict audit — fingerprint groups whose copies
    * carry MORE THAN ONE declared language: the mislabeled-duplicate
    * signal (the same text tagged en in one crawl and de in another
    * poisons per-language statistics, mixture quotas and langid training
    * labels alike). d01 collapses exact dups; t32 asks what the copies
    * DISAGREE about before a keeper is picked (d11's keep-best can then
    * prefer the majority label). One fingerprint-keyed aggregation; the
    * conflicted-group output is duplicate-bounded, never corpus-sized.
    * Exact: counts are longs, the language list is a sorted-distinct
    * join (total order ⇒ hash-checkable, the q47 rule). */
  def langConflicts(docs: DataFrame): DataFrame =
    docs
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"),
        col("lang"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_langs") > 1)

  /** t33: mean segmental type-token ratio (MSTTR) — lexical diversity
    * over fixed 50-token segments, averaged per document: the standard
    * fix for raw TTR's length bias (t12's global ratio falls with doc
    * length by Heaps' law alone, so it can't compare docs of different
    * sizes; per-segment TTR is length-controlled by construction).
    * Docs shorter than one full segment carry no score and drop.
    *
    * Exactness: per-segment type counts are exact ints, and the mean of
    * /chunk rationals folds into ONE division — Σtypes / (segments ×
    * chunk) — rounded once. Work ∝ corpus tokens with a (doc, segment)-
    * keyed aggregation; no windows, no joins. */
  def msttr(docs: DataFrame, chunk: Int = 50): DataFrame =
    docs
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .where(expr(s"pos div $chunk") < expr(s"n div $chunk"))
      .groupBy(col("doc_id"), expr(s"pos div $chunk").as("seg"))
      .agg(count_distinct(col("tok")).as("types"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("types")).as("sum_types"))
      .select(col("doc_id"), col("n_segments"),
        (round(col("sum_types").cast("double") /
          (col("n_segments") * chunk).cast("double"), 6) + lit(0.0)).as("msttr"))

  /** t31: compression-ratio quality signal — per document, UTF-8 bytes,
    * DEFLATE-compressed bytes (zlib level 6, raw) and their ratio: the
    * information-density gate production corpora actually run (RefinedWeb
    * /Dolma-class pipelines drop both extremes — near-0 ratios are
    * repeated boilerplate/template spam, ratios near 1 are already-
    * compressed or encrypted junk that tokenizes to noise). Complements
    * t05 (which counts SPECIFIC repeated units; DEFLATE prices ALL
    * redundancy at once, including structures n-gram counters miss).
    *
    * Deterministic (fixed level ⇒ fixed output length for fixed input on
    * a given zlib) but NOT SQL-expressible — DuckDB cannot deflate — so
    * rows-only by the t08 class; TextQueriesSpec pins the planted
    * repeated≪varied ordering, byte exactness, and dup-doc equality.
    * Scan-local mapPartitions (one reused Deflater per partition — the
    * genuinely-imperative case the mapPartitions rule reserves); zero
    * shuffle, output ∝ corpus rows. */
  def compressRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, false)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val bytes = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, bytes.length.toLong, out)
        }
      }.toDF("doc_id", "n_bytes", "n_deflate")
      .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
        when(col("n_bytes") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_deflate").cast("double") /
            col("n_bytes").cast("double"), 6) + lit(0.0)).as("ratio"))
  }

  /** q106: ranking AUC (Mann–Whitney U) of the t03 quality score as a
    * classifier for the `lang = 'en'` label, per source — the eval a
    * filtering pipeline runs before trusting a scorer as a gate (p13):
    * AUC is exactly the probability a random English doc outscores a
    * random non-English one, the threshold-free version of p30's
    * per-threshold ablation.
    *
    * Exactness: the score is a per-row IEEE projection (bit-identical in
    * both engines — the t03 contract), so rank PARTITIONS match even
    * though the double itself is never compared for equality; ties take
    * the textbook average rank, doubled to stay integral (avg_rank×2 =
    * 2·rank + tie_count − 1), and AUC = (ΣR⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻)
    * becomes one exact integer-ppm division of long sums.
    *
    * Scale shape: one source-keyed exchange; the rank pass and the
    * aggregation reuse the same partitioning; output ∝ sources. */
  def aucBySource(docs: DataFrame): DataFrame =
    aucOf(docs.select(col("source"), (col("lang") === "en").as("pos"),
      TextFns.qualityScore(col("text")).as("s")))

  /** q106 core over any (source, pos, s) frame. */
  def aucOf(labeled: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("s"))
    val scored = labeled
      .withColumn("rank2",
        lit(2L) * rank().over(w) +
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"), col("s"))) - lit(1L))
    scored.groupBy(col("source"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).cast("long").as("n_neg"),
        sum(when(col("pos"), col("rank2")).otherwise(0L)).cast("long").as("r2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("source"), col("n_pos"), col("n_neg"),
        expr("(r2 - n_pos * (n_pos + 1)) * 1000000 div (2 * n_pos * n_neg)")
          .as("auc_ppm"))
  }

  /** q107: calibration (reliability) table for the same scorer/label as
    * q106 — per 0.1-wide score decile: count, positives, the observed
    * positive rate, and the gap to the bucket midpoint. AUC says the
    * scorer RANKS well; calibration says whether its VALUE means what a
    * gate threshold (p13) assumes it means — the standard companion
    * diagnostic, whose count-weighted gap sum is the ECE.
    *
    * Exactness: the bucket key floors a per-row IEEE projection (never
    * an aggregated float); rates are exact integer ppm; the midpoint gap
    * is integer ppm arithmetic end-to-end. One 10-key partial-aggregated
    * exchange; corpus never shuffled. */
  def calibration(docs: DataFrame): DataFrame =
    docs.select((col("lang") === "en").as("pos"),
        least(floor(TextFns.qualityScore(col("text")) * 10).cast("long"), lit(9L))
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("n_pos"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("pos_rate_ppm"),
        expr("abs(n_pos * 1000000 div n - (bucket * 100000 + 50000))")
          .as("mid_gap_ppm"))

  /** t36: vocabulary coverage curve — cumulative token coverage of the
    * top-V types for V on a doubling grid: the tokenizer-sizing artifact
    * (t17 prices ONE vocab cut; t36 draws the whole curve, where the
    * knee is the V worth paying for — Heaps-law's empirical answer,
    * t30's fit made operational). Also the compression ceiling for any
    * word-level vocab: 1 − coverage is the UNK mass at that size.
    *
    * Exactness: the rank orders on (count DESC, token) — engine-
    * deterministic (the t17 boundary rule); coverage is an exact-ppm
    * division of long prefix sums. Scale shape: everything after the one
    * (token) partial-agg exchange is vocab-bounded — the rank window,
    * the prefix sum, and the |grid| probe join. */
  def coverageCurve(docs: DataFrame,
                    grid: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024))
      : DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0), "grid must be positive")
    val counts = docs
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("token"))
    val cum = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val total = counts.agg(sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"))
    import docs.sparkSession.implicits._
    val gridDf = grid.toDF("v")
    gridDf.join(cum, col("rank") <= col("v"), "left")
      .groupBy(col("v"))
      .agg(max(col("rank")).as("types_used"), max(col("cum")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("v"), coalesce(col("types_used"), lit(0L)).as("types_used"),
        coalesce(col("covered"), lit(0L)).as("covered"), col("n_tokens"),
        expr("coalesce(covered, 0) * 1000000 div n_tokens").as("coverage_ppm"))
  }

  /** t35: cross-source LM transfer matrix — fit an add-one-smoothed
    * unigram LM per source and score every source's token stream under
    * every source's LM: avg_nll(model → data), the asymmetric
    * domain-transfer distance. t13 asks "do sources share words", t15
    * "at the same rates, symmetrically"; t35 answers the mixing
    * question directly — "how surprised is a model of s by data from t"
    * — the cheap proxy for the cross-domain perplexity grids data-mixture
    * papers tabulate (diagonal lowest; an off-diagonal near the diagonal
    * marks a merge candidate, p08/p36's input).
    *
    * The smoothing algebra keeps it inner-join-shaped (the t15 trick):
    * with p_s(w) = (c_s(w)+1)/(N_s+V), unseen-token terms are
    * ln(N_s+V) exactly, so avg_nll = ln-term of the COMMON tokens only
    * plus N_t·ln(N_s+V), and the join runs over the vocab-bounded count
    * table, never token streams. One rounded division at the end (the
    * t06 float rule). Scale shape: counts = one (source, token)
    * partial-agg exchange; the token self-join and S×S grid are vocab-
    * and S-bounded. */
  def lmTransfer(docs: DataFrame): DataFrame = {
    val ct = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val totals = ct.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val vocab = ct.select(col("token")).distinct().agg(count(lit(1)).as("v"))
    val common = ct.select(col("source").as("data_source"), col("token"),
        col("c").as("ct"))
      .join(ct.select(col("source").as("model_source"), col("token"),
        col("c").as("cs")), Seq("token"))
      .groupBy(col("model_source"), col("data_source"))
      .agg(sum(col("ct") * log(col("cs") + lit(1L))).as("common_ll"))
    totals.select(col("source").as("model_source"), col("n").as("n_s"))
      .crossJoin(totals.select(col("source").as("data_source"), col("n").as("n_t")))
      .crossJoin(broadcast(vocab))
      .join(common, Seq("model_source", "data_source"), "left")
      .select(col("model_source"), col("data_source"),
        col("n_t").as("n_tokens"),
        (round((col("n_t") * log(col("n_s") + col("v"))
          - coalesce(col("common_ll"), lit(0.0))) / col("n_t"), 6) + lit(0.0))
          .as("avg_nll"))
  }

  /** t34: collocation mining — the corpus's top adjacent-word pairs by
    * Dice score (2·n_ab / (n_a + n_b), the symmetric-overlap collocation
    * measure): which word pairs travel TOGETHER rather than merely both
    * being frequent — the phrase-detection primitive behind tokenizer
    * vocab curation (a high-Dice pair is a merge candidate t08's BPE
    * should learn) and boilerplate phrase discovery (t18 finds repeated
    * LINES; t34 finds repeated two-word idioms inside otherwise-varied
    * text). Dice over PMI because it stays in exact integers — one ppm
    * division of plain counts, no logs to drift.
    *
    * Scale shape: bigrams are generated MAP-SIDE from each doc's token
    * array (the q93 sorted-array discipline — no posexplode self-join),
    * unigram and bigram counts partial-aggregate to vocab- and
    * vocab-pair-bounded frames, the two count joins broadcast the
    * vocab-bounded unigram side, and the final rank window runs over the
    * minCount-filtered candidate set only. Ties rank lexicographically —
    * deterministic, hence hash-checkable. */
  def collocations(docs: DataFrame, minCount: Long = 5, topK: Int = 30): DataFrame = {
    val toks = docs.select(split(lower(col("text")), " ").as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val bi = toks.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS a, w[i] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    bi
      .join(broadcast(uni.select(col("tok").as("a"), col("n").as("n_a"))), Seq("a"))
      .join(broadcast(uni.select(col("tok").as("b"), col("n").as("n_b"))), Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("2 * n_ab * 1000000 div (n_a + n_b)").as("dice_ppm"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("dice_ppm").desc, col("a"), col("b"))).cast("int"))
      .where(col("rank") <= topK)
      .select(col("rank"), col("a"), col("b"), col("n_ab"),
        col("n_a"), col("n_b"), col("dice_ppm"))
  }

  /** t38: Count-Min sketch heavy hitters — the canonical mergeable
    * frequency sketch (Cormode & Muthukrishnan 2005) the sketch family
    * (q58 HLL/quantiles, p07 Bloom, d03 MinHash) was missing: `depth`
    * independent hash rows of `width` counters, point estimate = min over
    * rows, one-sided error (never an undercount, overcount ≤ 2·N/width
    * w.h.p.). Unlike the engines' built-in sketches the whole structure
    * is deterministic md5 arithmetic, so — uniquely among the family —
    * the sketch itself is EXACTLY oracle-reproducible: DuckDB rebuilds
    * the identical counters and estimates (no rows-only registration
    * needed). Output: the true top-k tokens with their true count, CMS
    * estimate and overcount side by side (the q72 error-visibility
    * convention); the ≥-law overcount ≥ 0 is structural.
    *
    * Scale shape: THE reason this sketch exists at 100 TB — the corpus
    * explodes ×depth and partial-aggregates to depth·width counters
    * (map-side combine does nearly all the work; the exchange carries
    * ≤ 4096 rows); the truth side is one TakeOrderedAndProject heap cut;
    * estimates join the counter table broadcast. */
  def cmsHeavyHitters(docs: DataFrame, width: Int = 1024, depth: Int = 4,
                      topK: Int = 20): DataFrame = {
    require(width > 0 && depth > 0 && topK > 0,
      s"width=$width depth=$depth topK=$topK must be positive")
    val toks = sharedTokens(docs).select(col("token"))
    // the CMS bucket of the row's (d, token): deterministic md5 arithmetic
    def bucket: Column = pmod(Dedup.md5Hash60(
      concat(lit("cms"), col("d"), lit(":"), col("token"))), lit(width.toLong))
    val depths = array((0 until depth).map(lit): _*)
    val counters = toks
      .withColumn("d", explode(depths))
      .withColumn("bucket", bucket)
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
    val truth = toks.groupBy(col("token")).agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("token")).limit(topK)
    truth
      .withColumn("d", explode(depths))
      .withColumn("bucket", bucket)
      .join(broadcast(counters), Seq("d", "bucket"))
      .groupBy(col("token"), col("true_n"))
      .agg(min(col("c")).as("cms_n"))
      .select(col("token"), col("true_n"), col("cms_n"),
        (col("cms_n") - col("true_n")).as("overcount"))
  }

  /** t39: tokenizer fertility by language — tokens-per-word and
    * chars-per-token for each language, the tokenizer-efficiency audit a
    * multilingual corpus runs before committing a vocabulary (high
    * fertility = the tokenizer fragments that language, so its documents
    * cost more sequence positions per unit text; the standard metric in
    * multilingual tokenizer evaluation, e.g. the XLM-R and NLLB
    * analyses). Words = the t01 whitespace tokens, tokens = the t01
    * BPE-ish segmentation, so the ratio is oracle-exact end-to-end.
    *
    * Float discipline: both ratios are plain IEEE divisions of exactly
    * aggregated longs (identical operands in both engines) — unrounded
    * by the projection rule.
    *
    * Scale shape: one map-side-combined exchange to language cardinality;
    * everything after runs on the tiny language frame. */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        TextFns.tokenCount(col("text")).cast("long").as("nw"),
        TextFns.bpeishCount(col("text")).cast("long").as("nb"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_bpeish"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpeish"),
        (col("n_bpeish").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_bpeish")).as("chars_per_token"))

  /** The t40 script classes: (name, single-char range pattern). The
    * ranges are literal BMP codepoint ranges, valid and identical in
    * Java regex and RE2 (the q51 RE2-safe rule), so both engines count
    * the same characters. */
  private val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]", "digit" -> "[0-9]",
    "cyrillic" -> "[Ѐ-ӿ]", "cjk" -> "[一-鿿]",
    "arabic" -> "[؀-ۿ]", "greek" -> "[Ͱ-Ͽ]")

  /** t40: script-mixing profile — per-source character counts by Unicode
    * script class (Latin, digits, Cyrillic, CJK, Arabic, Greek), the
    * dominant script and its exact-ppm purity among scripted characters.
    * The multilingual-ingest audit that catches script confusion a
    * language-ID pass hides (a "ru" source that is half-transliterated,
    * CJK spans inside an "en" crawl, digit-heavy boilerplate) — distinct
    * from t19's encoding-noise score, which looks for BROKEN bytes, not
    * wrong-but-valid scripts.
    *
    * Exactness: each class count is `length(text) −
    * length(regexp_replace(text, class, ''))` — pure integer, no arrays;
    * the dominant pick is a CASE over exact sums (ties resolve to the
    * earlier class in the fixed order, both engines evaluate the same
    * CASE); purity is decimal-safe floor ppm of the scripted total.
    *
    * Scale shape: the six counts are scan-local projections; ONE
    * partial-aggregated exchange at source cardinality; the CASE and ppm
    * run on the tiny source frame. */
  def scriptProfile(docs: DataFrame): DataFrame = {
    val perDoc = scriptClasses.foldLeft(
      docs.select(col("source"), col("text"),
        length(col("text")).cast("long").as("nc"))) {
      case (df, (n, p)) => df.withColumn(n,
        (col("nc") - length(regexp_replace(col("text"), p, ""))).cast("long"))
    }
    val sums = perDoc.groupBy(col("source"))
      .agg(sum(col("nc")).as("n_chars"),
        scriptClasses.map { case (n, _) => sum(col(n)).as(n) }: _*)
    val scripted = scriptClasses.map { case (n, _) => col(n) }
      .reduce(_ + _)
    val top = scriptClasses.map { case (n, _) => col(n) }
      .reduce((a, b) => greatest(a, b))
    // foldRight nests earlier classes OUTERMOST, so a tie on `top`
    // resolves to the first class in the declared order
    val dominant = scriptClasses.foldRight(lit("none")) {
      case ((n, _), rest) => when(col(n) > 0 && col(n) === top, lit(n))
        .otherwise(rest)
    }
    sums
      .withColumn("_scripted", scripted)
      .withColumn("dominant", dominant)
      .withColumn("purity_ppm",
        when(col("_scripted") > 0,
          floor(top.cast("decimal(38,0)") * 1000000 / col("_scripted"))
            .cast("long"))
          .otherwise(lit(0L)))
      .select(Seq(col("source"), col("n_chars")) ++
        scriptClasses.map { case (n, _) => col(n) } ++
        Seq(col("_scripted").as("scripted_chars"), col("dominant"),
          col("purity_ppm")): _*)
  }

  /** The t41 structural markers: literal substrings whose occurrence
    * counts profile how "marked up" a source's text is. Literals (not
    * regexes) so both engines count with the same primitive — length
    * difference under non-overlapping left-to-right replace — and the
    * count is exact by construction. Multi-char markers divide by the
    * marker length. */
  private val structureMarkers: Seq[(String, String)] = Seq(
    "links" -> "http",       // URL mentions (http + https)
    "tags" -> "<",           // HTML/XML tag opens
    "pipes" -> "|",          // table cells
    "headings" -> "\n#",     // markdown heading starts
    "bullets" -> "\n- ",     // markdown list items
    "paragraphs" -> "\n\n")  // blank-line paragraph breaks

  /** t41: markup-structure profile — per source, exact occurrence counts
    * of the six structural markers and their floor-ppm density per
    * character. Distinct from t18 (cross-document boilerplate k-grams)
    * and t25 (code-symbol classification): t41 answers "how much of this
    * source is links / tables / markdown scaffolding vs running prose",
    * the signal a curation policy uses to route a source to an HTML
    * stripper or a table-aware extractor before tokenization.
    *
    * Exactness: counts are (len − len(replace(text, m, ''))) / len(m) —
    * both engines implement replace as a non-overlapping left-to-right
    * scan, so overlapping candidates ("\n\n\n" → one "\n\n") resolve
    * identically; densities are decimal-safe floor ppm (the p52 rule).
    *
    * Scale shape: marker counting is scan-local column arithmetic inside
    * whole-stage codegen; ONE partial-aggregated exchange on source ends
    * the plan. Nothing grows with corpus size but the scan. */
  def structureProfile(docs: DataFrame): DataFrame = {
    val perDoc = structureMarkers.foldLeft(
      docs.select(col("source"), col("text"),
        length(col("text")).cast("long").as("nc"))) {
      case (df, (n, m)) => df.withColumn(n,
        ((col("nc") - length(replace(col("text"), lit(m), lit("")))) /
          m.length).cast("long"))
    }
    val sums = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("nc")).as("n_chars") +:
          structureMarkers.map { case (n, _) => sum(col(n)).as(n) }): _*)
    structureMarkers.foldLeft(sums) { case (df, (n, _)) =>
      df.withColumn(s"${n}_ppm",
        when(col("n_chars") > 0,
          floor(col(n).cast("decimal(38,0)") * 1000000 / col("n_chars"))
            .cast("long")).otherwise(lit(0L)))
    }
  }
}
