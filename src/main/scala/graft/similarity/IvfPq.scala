package graft.similarity

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** s06: IVF-PQ — the production ANN architecture (FAISS's IndexIVFPQ,
  * after Jégou et al. 2011 §V): a coarse IVF quantizer prunes the scan to
  * nProbe cells, and within cells vectors are stored as PQ codes of their
  * RESIDUAL (x − coarse centroid), which concentrates the codebooks on
  * the small displacements PQ represents well instead of the whole space.
  * Search: per (query, probed cell), one ADC table of the query's residual
  * against the shared codebooks; a candidate costs m lookups. An exact
  * re-rank of the ADC shortlist finishes the job (the s05 two-stage rule).
  *
  * Train / index / serve are split like a real ANN store: [[train]] fits
  * the model (centers + codebooks — tiny), [[encodedIndex]] materializes
  * the encoded corpus ONCE per (session, corpus, params) as a persisted
  * frame (Knn.writeIvfIndex/searchIvfIndex is the durable, cell-partitioned
  * form of the IVF half). Without the index, every
  * query batch re-runs the whole encode projection over the corpus — the
  * served-index equivalent of the reference re-downloading its inputs
  * every epoch, which it explicitly avoids with its local cache
  * (`container/HboxContainer.java:1174-1186`).
  *
  * Composition of existing engine pieces, not new machinery: coarse
  * centroids = Knn.trainIvf (deterministic Lloyd), cell assignment = the
  * same literal-centroid map-side argmin the IVF scan uses, codes/tables/
  * ADC = Pq's expressions over the residual column, ranking = TopKAgg.
  *
  * Scale shape: everything corpus-side is a scan projection (assignment,
  * residual, encode — zero shuffle), paid once at index build; the probe
  * set with per-cell residual tables is broadcast; candidates are
  * cell-pruned (nProbe/nCells of the index) BEFORE any scoring; the two
  * exchanges are the shortlist and final top-k aggregations, both clipped
  * per-partition by TopKAgg. The compact index (cell + codes) is m bytes +
  * 1 cell id per vector; the SERVING index ([[encodeRefine]]) also keeps
  * the raw vector for the exact re-rank — FAISS's IndexRefineFlat
  * precedent: the refine stage needs exact vectors co-located, the price
  * of two-stage recall.
  *
  * Approximate (cell pruning + codebook distortion) → rows-only driver
  * check; IvfPqSpec pins recall vs the exact-L2 ranking and the plan.
  */
object IvfPq {

  /** Fitted model: coarse centers + residual codebooks, through
    * [[graft.Memo]]. */
  private def modelFor(emb: DataFrame, nCells: Int, m: Int, k: Int)
      : (Array[Array[Double]], Pq.Codebooks) =
    graft.Memo.value("IvfPq.model", emb, nCells, m, k)(train(emb, nCells, m, k))

  /** Coarse centers as a literal array<struct<cell, cv>>. */
  private def centsLit(centers: Array[Array[Double]]): Column =
    array(centers.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.toIndexedSeq.map(lit(_)): _*).as("cv"))
    }: _*)

  /** (d2, cell) structs to every coarse centroid — array_min is the argmin,
    * array_sort + slice the nProbe nearest (the IVF assignment trick). */
  private def dists(vec: Column, cents: Column): Column =
    transform(cents, c => struct(
      VectorFns.l2Sq(vec, c.getField("cv")).as("d2"),
      c.getField("cell").as("cell")))

  /** x − centroid(cell), with the centroid looked up from the literal. */
  private def residual(v: Column, cents: Column, cell: Column): Column =
    zip_with(v, element_at(cents, cell + 1).getField("cv"), (a, b) => a - b)

  /** Train: coarse Lloyd over the corpus, then PQ codebooks over the
    * residuals of every vector to its assigned centroid. The coarse model
    * comes from Knn's memo ([[Knn.sharedCenters]]): Lloyd is
    * deterministic, so when s02 already trained this (corpus, nCells) the
    * coarse pass costs nothing — one training run serves both index
    * families. */
  def train(emb: DataFrame, nCells: Int = 10, m: Int = 8, k: Int = 16)
      : (Array[Array[Double]], Pq.Codebooks) = {
    val centers = Knn.sharedCenters(emb, nCells)
    val cents = centsLit(centers)
    val v = col("embedding").cast("array<double>")
    val residuals = emb
      .select(col("vec_id"), v.as("v"),
        array_min(dists(v, cents)).getField("cell").as("cell"))
      .select(col("vec_id"), residual(col("v"), cents, col("cell")).as("embedding"))
    (centers, Pq.trainPq(residuals, m, k))
  }

  /** The serving index: (vec_id, cell, v, codes) — the coarse cell, the PQ
    * codes of the residual and the raw vector for the exact re-rank stage
    * (IndexRefineFlat). One scan projection, zero shuffle. */
  def encodeRefine(emb: DataFrame, centers: Array[Array[Double]], cb: Pq.Codebooks): DataFrame = {
    val cents = centsLit(centers)
    val v = col("embedding").cast("array<double>")
    emb
      .select(col("vec_id"), v.as("v"),
        array_min(dists(v, cents)).getField("cell").as("cell"))
      .select(col("vec_id"), col("cell"), col("v"),
        Pq.codesExpr(cb, residual(col("v"), cents, col("cell"))).as("codes"))
  }

  /** The PERSISTED serving index ([[encodeRefine]]) for (corpus, nCells,
    * m, k), through [[graft.Memo]]: trains at most once and materializes
    * the encode at most once per session — [[ivfPq]] serves from this, so
    * every query batch after the first reads the in-memory index only
    * (InMemoryTableScan, no source scan, no re-encode). */
  def encodedIndex(emb: DataFrame, nCells: Int = 10, m: Int = 8,
                   codebookSize: Int = 16): DataFrame = {
    val (centers, cb) = modelFor(emb, nCells, m, codebookSize)
    graft.Memo.frame("IvfPq.index", emb, nCells, m, codebookSize)(
      encodeRefine(emb, centers, cb))
  }

  /** Serve against a materialized (vec_id, cell, v, codes) index: ADC over
    * probed cells → shortlist → exact re-rank, with queries, candidates
    * and refine vectors all drawn from the index — a cached index means a
    * serve call touches NO source scan at all. */
  def searchEncoded(index: DataFrame, centers: Array[Array[Double]], cb: Pq.Codebooks,
                    queryPred: String = "vec_id < 10", k: Int = 5,
                    nProbe: Int = 3, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cents = centsLit(centers)
    val q = index.filter(expr(queryPred)).select(col("vec_id").as("query_id"), col("v").as("qv"))
    // one row per (query, probed cell), carrying the ADC table of the
    // query's residual AGAINST THAT CELL — residual encoding makes the
    // table cell-specific; nProbe × m × k doubles per query, broadcast
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(dists(col("qv"), cents)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("p.cell").as("cell"),
        Pq.tablesExpr(cb, residual(col("qv"), cents, col("p.cell"))).as("tables"))
    val scored = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-round(Pq.adcExpr(col("tables"), col("codes")), 8)).as("cos"))
    val cands = Knn.topKPerKey(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val exact = index.select(col("vec_id"), col("v"))
      .join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-round(VectorFns.l2Sq(col("qv"), col("v")), 8)).as("cos"))
    Knn.topKPerKey(exact, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), (-col("cos")).as("d2"))
  }

  /** s06 entry: train-at-most-once, index-at-most-once composition through
    * the model and index registries — repeated serves read the cached
    * index only. */
  def ivfPq(emb: DataFrame, queryPred: String = "vec_id < 10", k: Int = 5,
            nCells: Int = 10, nProbe: Int = 3, m: Int = 8,
            codebookSize: Int = 16, shortlist: Int = 50): DataFrame = {
    val (centers, cb) = modelFor(emb, nCells, m, codebookSize)
    searchEncoded(encodedIndex(emb, nCells, m, codebookSize), centers, cb,
      queryPred, k, nProbe, shortlist)
  }
}
