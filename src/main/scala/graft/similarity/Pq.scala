package graft.similarity

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the at-scale ANN memory lever beyond s03's
  * scalar int8: split each D-dim vector into `m` subvectors, fit a
  * per-subspace KMeans codebook of `k` centroids, and store each vector as
  * `m` one-byte codes (64 dims × 8 B doubles = 512 B → 8 B at m=8, a 64×
  * resident-corpus reduction; 32× vs the float source). Search uses
  * Asymmetric Distance Computation: the QUERY stays exact, its per-
  * subspace distance table to every centroid is precomputed once per
  * query, and a corpus vector's approximate distance is m table lookups —
  * no decode, no per-pair subvector arithmetic. (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
  * public method; reference context: Hbox has no similarity surface at
  * all, SURVEY §2.3.)
  *
  * Scale shape mirrors s01/s04: encoding is a pure expression tree over
  * the scan (codebooks ride in as literals — zero shuffle, map-side
  * argmin per subspace, exactly the IVF assignment trick per subspace); search
  * broadcasts the query-side tables and clips per-partition top-k before
  * the one exchange (TopKAgg). Training is m small Lloyd runs whose
  * exchanges carry k×(subDim+1) doubles per partition — corpus-size-
  * independent — and the fitted codebook (m×k×subDim doubles) is a
  * model artifact kept in [[graft.Memo]] like Knn's IVF model.
  *
  * Approximate by design (codebook distortion) → no SQL oracle; PqSpec
  * pins hand-computed codes/ADC sums on planted codebooks and recall
  * against the exact-L2 ranking, the d06/s02 pattern.
  */
object Pq {

  /** Fitted codebooks: codebooks(s)(c) = centroid c of subspace s. */
  type Codebooks = Array[Array[Array[Double]]]

  private def dims(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head().getInt(0)

  /** Train all m per-subspace codebooks in ONE Lloyd pass per iteration —
    * not m independent fits: every subspace assigns and accumulates inside
    * the same partition sweep, so the whole training costs 1 init job +
    * maxIter aggregation jobs regardless of m (the per-subspace variant
    * pays m×(init + maxIter) scans of the same corpus). Same deterministic
    * hash-smallest init and empty-cell rule as [[MlOps.kmeansCenters]];
    * each task ships m×k×(subDim+1) doubles, independent of corpus size. */
  def trainPq(emb: DataFrame, m: Int = 8, k: Int = 16, maxIter: Int = 3): Codebooks = {
    require(m >= 1 && k >= 2, s"m=$m must be >= 1, k=$k must be >= 2")
    val d = dims(emb)
    require(d % m == 0, s"dims=$d must divide into m=$m subspaces")
    val sub = d / m
    val sc = emb.sparkSession.sparkContext
    val data = emb.select(col("embedding").cast("array<double>"))
      .rdd.map(_.getSeq[Double](0).toArray).persist()
    try {
      // k hash-smallest rows seed every subspace (TakeOrderedAndProject)
      val initRows = emb
        .select(col("embedding").cast("array<double>").as("v"), xxhash64(col("vec_id")).as("h"))
        .orderBy(col("h")).limit(k)
        .collect().map(_.getSeq[Double](0).toArray)
      require(initRows.nonEmpty, "trainPq: empty corpus")
      val kEff = initRows.length
      var books: Codebooks =
        Array.tabulate(m)(s => initRows.map(v => v.slice(s * sub, (s + 1) * sub)))
      (0 until maxIter).foreach { _ =>
        val bc = sc.broadcast(books)
        val (sums, counts) = data.mapPartitions { it =>
          val bs = bc.value
          val acc = Array.ofDim[Double](m, kEff, sub)
          val n = Array.ofDim[Long](m, kEff)
          it.foreach { vec =>
            var s = 0
            while (s < m) {
              val off = s * sub
              var best = 0; var bestD = Double.MaxValue; var c = 0
              while (c < kEff) {
                var dd = 0.0; var i = 0
                while (i < sub) { val t = vec(off + i) - bs(s)(c)(i); dd += t * t; i += 1 }
                if (dd < bestD) { bestD = dd; best = c }
                c += 1
              }
              var i = 0
              while (i < sub) { acc(s)(best)(i) += vec(off + i); i += 1 }
              n(s)(best) += 1
              s += 1
            }
          }
          Iterator((acc, n))
        }.treeReduce { case ((a1, n1), (a2, n2)) =>
          var s = 0
          while (s < m) {
            var c = 0
            while (c < kEff) {
              var i = 0
              while (i < sub) { a1(s)(c)(i) += a2(s)(c)(i); i += 1 }
              n1(s)(c) += n2(s)(c); c += 1
            }
            s += 1
          }
          (a1, n1)
        }
        bc.unpersist(blocking = false)
        books = Array.tabulate(m) { s =>
          Array.tabulate(kEff) { c =>
            if (counts(s)(c) == 0) books(s)(c) // empty cell keeps its center
            else Array.tabulate(sub)(i => sums(s)(c)(i) / counts(s)(c))
          }
        }
      }
      books
    } finally { data.unpersist(blocking = false); () }
  }

  /** Codebook of subspace s as a literal array<struct<code, cv>>. */
  private def bookLit(cb: Codebooks, s: Int): Column =
    array(cb(s).zipWithIndex.toIndexedSeq.map { case (cv, c) =>
      struct(lit(c).as("code"), array(cv.toIndexedSeq.map(lit(_)): _*).as("cv"))
    }: _*)

  /** Subvector s of a full vector column. */
  private def subVec(v: Column, cb: Codebooks, s: Int): Column =
    slice(v, s * cb(0)(0).length + 1, cb(0)(0).length)

  /** The m-byte code array for a full-vector column: per-subspace argmin
    * against the literal codebook (the struct array_min IS the argmin;
    * ties take the lower code). */
  private[similarity] def codesExpr(cb: Codebooks, v: Column): Column =
    array((0 until cb.length).map { s =>
      array_min(transform(bookLit(cb, s), c => struct(
        VectorFns.l2Sq(subVec(v, cb, s), c.getField("cv")).as("d2"),
        c.getField("code").as("code"))))
        .getField("code").cast("tinyint")
    }: _*)

  /** The m×k ADC table for a full-vector column: per subspace, distances
    * to every centroid. */
  private[similarity] def tablesExpr(cb: Codebooks, v: Column): Column =
    array((0 until cb.length).map { s =>
      transform(bookLit(cb, s), c => VectorFns.l2Sq(subVec(v, cb, s), c.getField("cv")))
    }: _*)

  /** Σ per-subspace table lookups for a (tables, codes) row pair. */
  private[similarity] def adcExpr(tables: Column, codes: Column): Column =
    aggregate(
      zip_with(tables, codes, (t, c) => element_at(t, c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Encode: (vec_id, v, codes array<tinyint>) — the codes plus the raw
    * vector for the exact re-rank (IndexRefineFlat), map-side in the scan
    * projection, zero shuffle. */
  def pqEncodeRefine(emb: DataFrame, cb: Codebooks): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), codesExpr(cb, col("v")).as("codes"))

  private def modelFor(emb: DataFrame, m: Int, k: Int): Codebooks =
    graft.Memo.value("Pq.codebooks", emb, m, k)(trainPq(emb, m, k))

  /** The PERSISTED (vec_id, v, codes) serving index for (corpus, m, k),
    * through [[graft.Memo]] — the round-7 index rule (s02/s06 precedent)
    * applied to plain PQ: [[pq]] serves from this, so repeated query
    * batches read the in-memory index only (no source scan, no
    * re-encode). The raw vector rides along for the exact re-rank
    * (IndexRefineFlat). */
  def encodedIndex(emb: DataFrame, m: Int = 8, codebookSize: Int = 16): DataFrame = {
    val cb = modelFor(emb, m, codebookSize)
    graft.Memo.frame("Pq.index", emb, m, codebookSize)(pqEncodeRefine(emb, cb))
  }

  /** s05's REGISTERED frame (the s02 assignment-optimality recipe per
    * SUBSPACE — round-14 promotion): every corpus vector present exactly
    * once, and in EVERY subspace the stored code's (d2, code) struct
    * equals the lexicographic `array_min` over the codebook — the same
    * deterministic expression [[codesExpr]] minimized, re-evaluated, so
    * equality is IEEE-exact. This pins the trained-codebook ENCODE (the
    * index that serves every ADC query) under a SQL oracle even though
    * the codebooks aren't SQL-expressible; the ADC serve itself stays
    * recall-spec'd in PqSpec and registered through s06 (the family's
    * serve representative) and the shared index entries. */
  def pqEncodeParity(emb: DataFrame, m: Int = 8,
                     codebookSize: Int = 16): DataFrame = {
    val cb = modelFor(emb, m, codebookSize)
    val idx = encodedIndex(emb, m, codebookSize)
    val opt = idx.select(col("vec_id"),
      (0 until cb.length).map { s =>
        val dists = transform(bookLit(cb, s), c => struct(
          VectorFns.l2Sq(subVec(col("v"), cb, s), c.getField("cv")).as("d2"),
          c.getField("code").as("code")))
        element_at(dists, element_at(col("codes"), s + 1).cast("int") + 1) ===
          array_min(dists)
      }.reduce(_ && _).as("codes_optimal"))
    emb.select(col("vec_id")).join(opt, Seq("vec_id"), "full_outer")
      .select(col("vec_id"), col("codes_optimal"))
  }

  /** ADC top-k against a materialized (vec_id, v, codes) index
    * ([[pqEncodeRefine]]): every query's per-subspace distance table to all
    * k centroids is computed ONCE (query side, broadcast); a corpus row
    * costs m array lookups. Ranking uses round(adist, 8) with neighbor-id
    * tiebreak, the s01 stability rule. Queries are drawn from the index,
    * so a cached index serves with no source scan at all. */
  def pqSearchIndexed(index: DataFrame, cb: Codebooks,
                      queryPred: String = "vec_id < 10", k: Int = 5): DataFrame = {
    val q = index.filter(expr(queryPred))
      .select(col("vec_id").as("query_id"), tablesExpr(cb, col("v")).as("tables"))
    val adist = adcExpr(col("tables"), col("codes"))
    val scored = index.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-round(adist, 8)).as("cos")) // TopKAgg keeps largest: negate distance
    Knn.topKPerKey(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos")).as("adist"))
  }

  /** ADC shortlist + exact re-rank — the production PQ serving shape: the
    * compressed corpus prunes to a `shortlist` of candidates per query
    * (the only pass that touches every row, at m-lookup cost), then ONLY
    * those |Q|×shortlist rows are re-scored against their exact vectors.
    * Recall is then the probability the true top-k survives into the
    * shortlist, not the probability ADC ranks them exactly — the knob that
    * makes PQ usable on clusterless (worst-case) data. The candidate →
    * vector join broadcasts the tiny candidate set, so the index is
    * scanned, never shuffled, in both passes. Candidates, queries and
    * refine vectors all come from the materialized index frame. */
  def pqRefinedIndexed(index: DataFrame, cb: Codebooks,
                       queryPred: String = "vec_id < 10", k: Int = 5,
                       shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cands = pqSearchIndexed(index, cb, queryPred, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = index.filter(expr(queryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = index.select(col("vec_id"), col("v"))
      .join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-round(VectorFns.l2Sq(col("qv"), col("v")), 8)).as("cos"))
    Knn.topKPerKey(exact, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos")).as("d2"))
  }

  /** s05: [[pqRefinedIndexed]] with codebooks trained at most once and the
    * index materialized at most once per (corpus, m, k) through
    * [[graft.Memo]] — the round-7 index rule. */
  def pq(emb: DataFrame, queryPred: String = "vec_id < 10", k: Int = 5,
         m: Int = 8, codebookSize: Int = 16, shortlist: Int = 50): DataFrame = {
    val cb = modelFor(emb, m, codebookSize)
    pqRefinedIndexed(encodedIndex(emb, m, codebookSize), cb, queryPred, k, shortlist)
  }
}
