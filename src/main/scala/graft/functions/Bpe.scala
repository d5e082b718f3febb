package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Byte-pair encoding — the tokenizer family LLM pipelines actually train
  * (Sennrich, Haddow, Birch, "Neural Machine Translation of Rare Words
  * with Subword Units", ACL 2016). t01's `bpeishCount` approximates
  * subword counts with a regex; this is the real thing: train merge rules
  * on the corpus, encode text into subword units with them. (Reference
  * context: Hbox streams raw records into the opaque training process and
  * leaves all tokenization to user scripts —
  * `container/HboxContainer.java:1142-1209`; here it is an engine
  * operator.)
  *
  * Scale split: the CORPUS-scale step is the distributed word-count
  * aggregation (one partial-aggregated exchange, vocab-bounded output,
  * capped deterministically at the `maxVocab` most frequent words via
  * TakeOrderedAndProject — count desc, word asc). The merge loop then
  * runs driver-side over that capped word-count dict — the same
  * model-artifact boundary as Lloyd's centers: merges are the MODEL, and
  * each iteration touches only the vocab, never the corpus. Training is
  * fully deterministic: ties in pair frequency break lexicographically.
  *
  * Encoding is a native codegen expression ([[BpeEncode]]): the fitted
  * ranks table rides along as a reference object, each row pays one JVM
  * loop — no UDF, no shuffle, scan speed.
  */
object Bpe {

  /** A fitted BPE model: merge rules in training order. */
  final case class Model(merges: Vector[(String, String)]) extends Serializable {
    @transient lazy val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + "\u0000" + b, i) }
      m
    }

    /** Greedy BPE: repeatedly merge the lowest-rank adjacent pair. */
    def encodeWord(w: String): Vector[String] = {
      if (w.isEmpty) return Vector.empty
      var parts = w.toCharArray.map(_.toString).toVector
      var done = false
      while (!done && parts.length > 1) {
        var bestRank = Int.MaxValue
        var bestAt = -1
        var i = 0
        while (i < parts.length - 1) {
          val r = ranks.get(parts(i) + "\u0000" + parts(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestAt = i }
          i += 1
        }
        if (bestAt < 0) done = true
        else parts = (parts.take(bestAt) :+ (parts(bestAt) + parts(bestAt + 1))) ++
          parts.drop(bestAt + 2)
      }
      parts
    }

    /** Whitespace-split then per-word encode, flattened. */
    def encodeText(text: String): Array[String] =
      text.toLowerCase.split(" ", -1).iterator.flatMap(encodeWord).toArray

    /** The INDEPENDENT reference encoder — training-order REPLAY: apply
      * each merge rule in rank order, exhaustively (left-to-right
      * non-overlapping passes to a fixpoint), instead of [[encodeWord]]'s
      * greedy lowest-rank-adjacent-pair loop. Equivalent by BPE's
      * constituent ordering (rule k's elements are products of ranks < k,
      * so after ranks 0..k−1 are exhausted every occurrence rule k will
      * ever see exists; Sennrich et al. 2016), but shares NO control flow
      * with the greedy path — the t08 parity frame pins the two
      * implementations equal on every document, the s11 exact-parity
      * discipline for a trained-model operator. */
    def encodeWordReplay(w: String): Vector[String] = {
      if (w.isEmpty) return Vector.empty
      var parts = w.toCharArray.map(_.toString).toVector
      merges.foreach { case (a, b) =>
        var changed = true
        while (changed && parts.length > 1) {
          changed = false
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < parts.length) {
            if (i < parts.length - 1 && parts(i) == a && parts(i + 1) == b) {
              out += (a + b); i += 2; changed = true
            } else { out += parts(i); i += 1 }
          }
          parts = out.result()
        }
      }
      parts
    }

    /** [[encodeText]] through the replay encoder. */
    def encodeTextReplay(text: String): Array[String] =
      text.toLowerCase.split(" ", -1).iterator.flatMap(encodeWordReplay).toArray
  }

  /** Train merge rules on a corpus' token stream. */
  def train(docs: DataFrame, nMerges: Int = 100, maxVocab: Int = 10000): Model = {
    require(nMerges >= 0 && maxVocab >= 1,
      s"nMerges=$nMerges must be >= 0, maxVocab=$maxVocab >= 1")
    // corpus-scale: one partial-aggregated exchange; deterministic cap
    val wc: Array[(String, Long)] = docs
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // model-scale: merge loop over the capped dict
    var vocab: Map[Vector[String], Long] =
      wc.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        .map { case (w, c) => w.toCharArray.map(_.toString).toVector -> c }
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val pairCounts = new scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (parts, c) =>
        var i = 0
        while (i < parts.length - 1) {
          val p = (parts(i), parts(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // deterministic: max count, ties to the lexicographically first pair
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        vocab = vocab.map { case (parts, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < parts.length) {
            if (i < parts.length - 1 && parts(i) == best._1 && parts(i + 1) == best._2) {
              out += joined; i += 2
            } else { out += parts(i); i += 1 }
          }
          out.result() -> c
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        step += 1
      }
    }
    Model(merges.result())
  }

  /** [[train]] through [[graft.Memo]]. */
  def sharedModel(docs: DataFrame, nMerges: Int = 100, maxVocab: Int = 10000): Model =
    graft.Memo.value("Bpe.model", docs, nMerges, maxVocab)(train(docs, nMerges, maxVocab))

  /** Subword units of a text column under a fitted model (native codegen
    * expression — scan-local). */
  def encode(text: Column, model: Model): Column =
    ColumnBridge.toColumn(graft.plans.BpeEncode(ColumnBridge.toExpression(text), model))

  /** [[Model.encodeTextReplay]] as a column — the independent
    * training-order-replay encoder the t08 parity frame compares
    * [[encode]] against (also a native codegen expression). */
  def encodeReplay(text: Column, model: Model): Column =
    ColumnBridge.toColumn(
      graft.plans.BpeEncodeReplay(ColumnBridge.toExpression(text), model))
}
