package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface.
  *
  * All of these are Catalyst `Column` expression trees over built-ins (no
  * Scala UDFs), so they stay inside whole-stage codegen and scale linearly —
  * the property the reference's opaque per-record python scripts (e.g.
  * `examples/tensorflow/dataDeal.py:1-40`) never had.
  */
object TextFns {

  /** Whitespace tokenization (single-space; the corpus is single-spaced). */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Word-count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-token count: alpha runs, digits, and punctuation each count
    * as one token (regex kept RE2-compatible for oracle parity). */
  def bpeishCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]|[^a-z0-9 ]"))

  /** Distinct k-gram shingles of the token stream ("a b c" k=3-grams). */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Distinct 64-bit shingle identities of a token-array column: xxhash64
    * over the k token columns directly (no per-shingle string allocation —
    * the hash accumulates each token with its length, so token boundaries
    * stay unambiguous). Docs with < k tokens hash their whole token list
    * (single-arg hash — disjoint identity space from the k-arg hashes).
    *
    * IMPORTANT perf note: expressions captured inside a higher-order-function
    * lambda are re-evaluated PER ELEMENT (no subexpression elimination inside
    * `transform`). Pass an *attribute* (a column materialized by a prior
    * projection), not a `split(...)` expression — otherwise the tokenizer
    * reruns for every shingle, which measured ~9× slower on the dedup path. */
  def shingleHashesOfTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => xxhash64((0 until k).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array(xxhash64(concat_ws(" ", toks))))

  /** Stopword-hit count for a fixed list (occurrence count, not distinct). */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  // tiny per-language function-word lists for the n-gram/stopword language
  // heuristic; deliberately ascii-only and RE2-safe.
  val stopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val stopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "nicht")
  val stopEs: Seq[String] = Seq("el", "los", "y", "es", "en", "que", "una")
  val stopFr: Seq[String] = Seq("le", "les", "et", "est", "une", "dans", "pas")

  /** Language-ID heuristic: argmax of function-word hit counts with a fixed
    * tie order en > de > es > fr; 'und' (unknown) when nothing hits. */
  def langGuess(text: Column): Column =
    langGuessOfCounts(
      stopwordHits(text, stopEn), stopwordHits(text, stopDe),
      stopwordHits(text, stopEs), stopwordHits(text, stopFr))

  /** Argmax over pre-bound hit-count columns. Prefer binding the counts in a
    * prior projection (see TextQueries.t02LangId): each count is referenced
    * up to 4 times here, and an unbound count re-runs its tokenizer filter
    * per reference (HOFs sit outside codegen subexpression elimination). */
  def langGuessOfCounts(en: Column, de: Column, es: Column, fr: Column): Column =
    when(greatest(en, de, es, fr) === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")

  /** Quality signals: token count, mean token length, stopword ratio,
    * alpha-character ratio. Pure integer-derived arithmetic → bit-stable. */
  def nTokens(text: Column): Column = tokenCount(text)
  def meanTokenLen(text: Column): Column =
    (length(text) - (tokenCount(text) - 1).cast("double")) / tokenCount(text).cast("double")
  def stopwordRatio(text: Column): Column =
    stopwordHits(text, stopEn).cast("double") / tokenCount(text).cast("double")
  def alphaRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[^a-z]", "")).cast("double") / length(text).cast("double")

  /** Composite quality score in [0,1]-ish: long-enough, wordy, not too much
    * punctuation. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column =
    qualityScoreOf(nTokens(text).cast("double"), alphaRatio(text), stopwordRatio(text))

  /** Same formula over pre-bound (token count, alpha ratio, stopword ratio)
    * columns — bind them in a prior projection to avoid retokenization. */
  def qualityScoreOf(nt: Column, ar: Column, sr: Column): Column =
    least(nt / lit(100.0), lit(1.0)) * lit(0.5) +
      ar * lit(0.3) +
      least(sr * lit(5.0), lit(1.0)) * lit(0.2)

  /** Content fingerprint: md5 of the whitespace/case-normalized text.
    * (The scale story for near-dup grouping is MinHash — see graft.dedup.) */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  // ---- repetition signals (Gopher-style quality rules) --------------------

  /** Adjacent token bigrams of a bound token array ("a b" strings); docs with
    * a single token degenerate to that token (mirrors `shingles` k<n case). */
  def bigramsOfTokens(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Highest occurrence count of any single element in the array, computed as
    * the longest equal-run of the SORTED array: O(n log n) sort + one O(n)
    * fold, instead of the naive O(distinct·n) count-per-distinct-element —
    * the difference between linear-ish and quadratic on repetitive spam docs,
    * which are exactly the docs these signals exist to catch. Pure codegen
    * HOFs, zero shuffle. */
  def topElementCount(arr: Column): Column = {
    val sorted = array_sort(arr)
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Fraction of tokens that are repeats of an earlier token:
    * (n − n_distinct) / n. Integer-derived division → bit-stable. */
  def dupTokenFrac(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") /
      size(toks).cast("double")
}
