package graft

import graft.dedup.Dedup
import graft.similarity.Knn
import org.scalatest.funsuite.AnyFunSuite

/** The session-memo lifetime contract (VERDICT r5 "What's missing" #5):
  * every session-keyed memo (the plan-keyed [[Memo]], table relations)
  * registers with SessionCaches and drains on release — explicitly per
  * session, or wholesale when the context's application ends (the
  * SparkListener backstop for JVMs that forget the explicit call) — and a
  * [[Memo]] entry is served only for the same plan over the same files. */
class SessionCachesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("release(session) drains every registered cache for that session only") {
    // an isolated session sharing the test context: its cache entries are
    // keyed separately from the shared session's
    val s2 = spark.newSession()
    val t2 = Tables(s2, sf)
    Dedup.sharedShingles(t2.documents).count() // populates the shingle memo
    Dedup.minHashLshPairs(t2.documents).count() // populates the pair memo
    Knn.ivf(t2.embeddings).count()             // IVF model + index
    graft.similarity.Pq.pq(t2.embeddings).count()      // PQ codebooks
    graft.similarity.IvfPq.ivfPq(t2.embeddings).count() // IVF-PQ model
    graft.dedup.Clusters.sharedComponents(             // CC label memo
      Dedup.minHashLshPairs(t2.documents).select("d1", "d2")).count()
    graft.functions.Bpe.sharedModel(t2.documents)      // BPE merge model
    t2.registerViews()                         // populates relCache + lastViews
    assert(SessionCaches.entriesFor(s2) >= 7,
      "every memo above must hold an entry for the session")
    assert(SessionCaches.entriesFor(s2) > 0, "population must register entries")
    val sharedBefore = SessionCaches.entriesFor(spark)
    SessionCaches.release(s2)
    assert(SessionCaches.entriesFor(s2) === 0, "release must drain all maps")
    assert(SessionCaches.entriesFor(spark) === sharedBefore,
      "another session's entries must be untouched")
    // the persisted shingle frame was actually unpersisted, not just dropped
    assert(s2.sharedState.cacheManager.isEmpty ||
      !Dedup.shingleSets(t2.documents).storageLevel.useMemory)
  }

  test("releaseContext drains every session of the context (application-end path)") {
    // the hook installs a SparkListener whose onApplicationEnd calls
    // releaseContext(sc); stopping the shared test context mid-suite would
    // kill every other suite, so this exercises the handler directly —
    // listener delivery on stop is Spark's own contract.
    val s3 = spark.newSession()
    Tables(s3, sf).documents.count()
    Dedup.sharedShingles(Tables(s3, sf).documents).count()
    assert(SessionCaches.entriesFor(s3) > 0)
    SessionCaches.releaseContext(spark.sparkContext)
    assert(SessionCaches.entriesFor(s3) === 0)
    assert(SessionCaches.entriesFor(spark) === 0,
      "context-wide release must cover every session of the context")
  }

  test("memo keys compare plans, not their 32-bit semanticHash") {
    val s = spark.newSession()
    val docs = Tables(s, sf).documents
    // 4294967297 = 2^32 + 1: its Long hash folds to 0's, so both filters
    // share one semanticHash while selecting different rows
    val all = docs.where("doc_id > 0L")
    val none = docs.where("doc_id > 4294967297L")
    assert(all.queryExecution.analyzed.semanticHash() ===
      none.queryExecution.analyzed.semanticHash())
    assert(Dedup.sharedShingles(all).count() > 0)
    assert(Dedup.sharedShingles(none).count() === Dedup.shingleSets(none).count())
    SessionCaches.release(s)
  }

  test("a memo rebuilds after files are appended under its input's directory") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("memo-append")
    val src = java.nio.file.Paths.get(s"$sf/documents.parquet")
    try {
      java.nio.file.Files.copy(src, dir.resolve("part-0.parquet"))
      val before = Dedup.sharedShingles(s.read.parquet(dir.toString)).count()
      val entries = SessionCaches.entriesFor(s)
      java.nio.file.Files.copy(src, dir.resolve("part-1.parquet"))
      val reread = s.read.parquet(dir.toString)
      val got = Dedup.sharedShingles(reread)
      // the appended file repeats every document, so every shingle row doubles
      assert(got.count() === 2 * before, "the memo served the pre-append frame")
      val fresh = Dedup.shingleSets(reread)
      assert(got.exceptAll(fresh).isEmpty && fresh.exceptAll(got).isEmpty)
      assert(SessionCaches.entriesFor(s) === entries, "the stale entry must be replaced")
    } finally {
      SessionCaches.release(s)
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }

  test("a Tables relation, its view and its memo consumers see a file appended under the table") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("tables-append")
    val orders = dir.resolve("orders.parquet")
    java.nio.file.Files.createDirectory(orders)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      orders.resolve("part-0.parquet"))
    Tables.names.filterNot(_ == "orders").foreach(n =>
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"$n.parquet"),
        java.nio.file.Paths.get(s"$sf/$n.parquet")))
    def t = Tables(s, dir.toString)
    def memoCount: Long = { val o = t.orders; Memo.value("spec.orders.count", o)(o.count()) }
    def viewCount: Long = { t.registerViews(); s.sql("SELECT count(*) FROM orders").head().getLong(0) }
    try {
      val before = t.table("orders").count()
      assert(before > 0 && memoCount === before && viewCount === before)
      java.nio.file.Files.copy(orders.resolve("part-0.parquet"),
        orders.resolve("part-1.parquet"))
      assert(t.table("orders").count() === 2 * before, "the relation kept its old listing")
      assert(memoCount === 2 * before, "the memo served the pre-append value")
      assert(viewCount === 2 * before, "the view kept the old relation")
    } finally {
      SessionCaches.release(s)
      java.nio.file.Files.list(orders).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }

  test("nested builds succeed and a failed build leaves no entry") {
    val s = spark.newSession()
    val t = Tables(s, sf)
    // IvfPq's model build consults Knn's coarse-center memo inside its own build
    assert(graft.similarity.IvfPq.ivfPq(t.embeddings).count() > 0)
    val docs = t.documents
    val entries = SessionCaches.entriesFor(s)
    var builds = 0
    def flaky(fail: Boolean): Int = Memo.value("spec.flaky", docs) {
      builds += 1
      if (fail) throw new IllegalStateException("build failed")
      builds
    }
    intercept[IllegalStateException](flaky(fail = true))
    assert(SessionCaches.entriesFor(s) === entries, "a failed build must not stay memoized")
    assert(flaky(fail = false) === 2, "the retry must rebuild")
    assert(flaky(fail = true) === 2, "a successful build is served from the memo")
    assert(SessionCaches.entriesFor(s) === entries + 1)
    SessionCaches.release(s)
  }

  test("repopulation after release works (release is not poisoning)") {
    val t = Tables(spark, sf)
    assert(t.documents.count() > 0)
    assert(SessionCaches.entriesFor(spark) > 0)
    SessionCaches.release(spark)
    assert(t.documents.count() > 0)
  }
}
