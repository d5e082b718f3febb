package graft

import graft.functions.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Trained BPE: hand-derived merge sequences, the encode laws (concat
  * identity, subword bounds), training determinism, and the scan-local
  * codegen plan. */
class BpeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("training derives the hand-computed merge sequence (deterministic ties)") {
    // words: ab ×3, ac ×1 → pairs (a,b):3, (a,c):1 → merge (a,b); then the
    // only remaining pair is (a,c) → merge (a,c); then no pairs remain
    val corpus = Seq((1L, "ab ab ab ac")).toDF("doc_id", "text")
    val m = Bpe.train(corpus, nMerges = 10)
    assert(m.merges === Vector(("a", "b"), ("a", "c")))
    // greedy encode applies ranks in order: a·b·a·c → ab·a·c → ab·ac
    assert(m.encodeWord("abac") === Vector("ab", "ac"))
    // unseen symbols stay as characters
    assert(m.encodeWord("xy") === Vector("x", "y"))
  }

  test("tie-break is lexicographic: equal-count pairs merge in sorted order") {
    // "xy" and "pq" each appear twice — (p,q) < (x,y) lexicographically
    val corpus = Seq((1L, "xy xy pq pq")).toDF("doc_id", "text")
    val m = Bpe.train(corpus, nMerges = 1)
    assert(m.merges === Vector(("p", "q")))
  }

  test("encode law: concatenating a word's subwords reproduces the word") {
    val model = Bpe.sharedModel(tables.documents)
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      assert(model.encodeWord(w).mkString === w, s"word '$w'")
    }
  }

  test("corpus stats: per doc, n_tokens <= n_subwords <= n_chars-ish bounds hold") {
    val model = Bpe.sharedModel(tables.documents)
    val out = tables.documents.select(col("doc_id"),
        graft.functions.TextFns.tokenCount(col("text")).as("n_tokens"),
        size(Bpe.encode(col("text"), model)).as("n_subwords"))
      .as[(Long, Int, Int)].collect()
    assert(out.length === tables.documents.count())
    out.foreach { case (id, nTok, nSub) =>
      assert(nSub >= nTok, s"doc $id: every token yields >= 1 subword")
    }
    // merges actually fire on this corpus: strictly fewer subwords than chars
    val totalChars = tables.documents
      .select(sum(length(regexp_replace(col("text"), " ", ""))))
      .as[Long].collect()(0)
    assert(out.map(_._3.toLong).sum < totalChars,
      "trained merges must compress below character-level splitting")
  }

  test("replay encoder ≡ greedy encoder: hand cases, random words, and the full corpus frame") {
    // hand cases exercising rank interaction: a later rule's product can
    // never feed an earlier rule (constituent ordering), so training-order
    // replay and greedy-min-rank agree
    val corpus = Seq((1L, "ab ab ab ac abc abc")).toDF("doc_id", "text")
    val m = Bpe.train(corpus, nMerges = 10)
    for (w <- Seq("abac", "abc", "aaa", "abab", "xyabc", ""))
      assert(m.encodeWordReplay(w) === m.encodeWord(w), s"word '$w'")
    val model = Bpe.sharedModel(tables.documents)
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(14)))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString // tiny alphabet: dense merges
      assert(model.encodeWordReplay(w) === model.encodeWord(w), s"word '$w'")
    }
    // the registered t08 parity frame: full row universe, all-true match
    val rows = SparkEntry.queries("t08_bpe_encode")(spark, sf).collect()
    assert(rows.length === tables.documents.count())
    assert(rows.forall(_.getAs[Boolean]("encode_match")),
      "greedy and replay encoders must agree on every document")
  }

  test("training is deterministic across registry resets") {
    Memo.release(spark)
    val a = Bpe.sharedModel(tables.documents)
    Memo.release(spark)
    val b = Bpe.sharedModel(tables.documents)
    assert(a.merges === b.merges)
  }

  test("plan: encoding is scan-local and stays in whole-stage codegen") {
    val model = Bpe.sharedModel(tables.documents)
    val df = tables.documents.select(col("doc_id"),
      Bpe.encode(col("text"), model).as("units"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Tables.widen roundrobin is allowed; no keyed redistribution
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"encode must not shuffle on a key:\n$p")
    assert(p.contains("*("), s"encode fell out of codegen:\n$p")
  }
}
