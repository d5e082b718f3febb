package graft.similarity

import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** s22: graph-based ANN search — greedy beam search over a k-nearest-
  * neighbor graph, the query-time idea behind HNSW / NSG / NN-descent
  * serving (Malkov & Yashunin 2018's layer-0 walk): start from a fixed
  * seed set, repeatedly expand the current best `beam` candidates through
  * their graph edges, keep the best `beam` of everything seen, and after
  * `iters` rounds answer with the top k. The graph family member the
  * s-series lacked: IVF (s02/s06) prunes by PARTITION (query-independent
  * cells), a graph search prunes by NAVIGATION (each query walks toward
  * its own neighborhood), which is why graph indexes dominate the
  * high-recall regime in practice.
  *
  * Determinism: seeds are a pure function of vec_id (`vec_id % seedMod =
  * 0` — the q72 membership rule), every candidate score is the exactly
  * computed cosine rounded at 8 dp with vec_id tiebreaks (the s01 rule),
  * and expansion/dedup are set operations — so the walk is reproducible
  * across runs, partitionings and engines. Approximate by construction
  * (a true neighbor unreachable in `iters` hops from any seed is missed):
  * the driver check is rows-only (the s02 class) and GraphSearchSpec pins
  * recall vs s01's exact top-k, the seed-improvement law, and
  * partitioning invariance.
  *
  * Scale shape: the edge list (n·graphK rows) and the (vec_id → v)
  * lookup are built/persisted ONCE per (session, corpus) — the round-7
  * index rule; each serve iteration then joins a broadcast frontier
  * (|Q|·beam rows) against them, so per-query-batch work is
  * ∝ |Q|·beam·graphK·iters, independent of corpus size once the index
  * stands. On disk the edge table buckets by `src` and the vector table
  * by `vec_id` (`bucketBy`), making both probes co-located
  * point lookups. The exact all-pairs graph build here is the
  * correctness baseline (d05's declared-quadratic class); at 100 TB the
  * build route is [[Knn.knnGraphIvf]] (cell-pruned, recall-spec'd) or
  * NN-descent-style refinement of it — the SEARCH below is identical
  * over either edge set.
  */
object GraphSearch {

  /** The persisted (src, dst) edge frame from s08's exact kNN graph,
    * through [[graft.Memo]]. */
  def sharedEdges(emb: DataFrame, graphK: Int = 8): DataFrame =
    graft.Memo.frame("GraphSearch.edges", emb, graphK)(
      Knn.knnGraph(emb, graphK)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst")))

  /** The persisted (v, vec_id) lookup the score step probes, through
    * [[graft.Memo]]. Column order
    * is deliberately (v, vec_id) — the REVERSE of the (vec_id, v)
    * projection every Knn/Pq plan opens with: Spark's CacheManager
    * substitutes a cached plan into ANY query containing it as a subtree,
    * so a same-shaped cache here would silently rewrite the other
    * operators' plans (observed: s02's index build re-rooted onto this
    * cache, changing its asserted plan shape). A different output schema
    * can never match their subtrees. */
  private def sharedVecs(emb: DataFrame): DataFrame =
    graft.Memo.frame("GraphSearch.vectors", emb)(
      emb.select(col("embedding").cast("array<double>").as("v"), col("vec_id"))
        // the lookup is probed by broadcast-small candidate sets: a few
        // fat partitions beat scan-width ones (per-hop task overhead);
        // on disk this table would be bucketed by vec_id instead
        .coalesce(8))

  /** Greedy beam search: top-k neighbors for each query via `iters`
    * rounds of graph expansion from the deterministic seed set. */
  def search(emb: DataFrame, queryPred: String = "vec_id < 10",
             k: Int = 5, beam: Int = 8, iters: Int = 3,
             graphK: Int = 8, seedMod: Int = 97): DataFrame =
    walk(emb, queryPred, k, beam, iters, graphK, seedMod, truncate = true)

  /** The same walk with lineage truncation off — identical result
    * (spec-pinned), used by plan-shape tests that need the expansion
    * joins visible in ONE final plan. Production serving uses [[search]]:
    * without the per-hop localCheckpoint, every later action re-executes
    * every earlier hop's joins (measured 4.2 s vs sub-second at sf0.1). */
  private[graft] def walkNoTruncate(emb: DataFrame, queryPred: String,
                                    k: Int, beam: Int, iters: Int): DataFrame =
    walk(emb, queryPred, k, beam, iters, 8, 97, truncate = false)

  private def walk(emb: DataFrame, queryPred: String,
                   k: Int, beam: Int, iters: Int,
                   graphK: Int, seedMod: Int, truncate: Boolean): DataFrame = {
    require(beam >= k, s"beam=$beam must be >= k=$k (the answer is a prefix of the beam)")
    val v = sharedVecs(emb)
    val q = v.filter(expr(queryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val edges = sharedEdges(emb, graphK)

    // score a (query_id, node) candidate set: fetch vectors by id, then
    // the exact cosine against the broadcast query batch — candidates are
    // broadcast-small, so the vector fetch is a map-side probe of the
    // persisted lookup (bucketed point lookups on disk at scale)
    def score(cands: DataFrame): DataFrame =
      v.join(broadcast(cands), col("vec_id") === col("node"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("node") =!= col("query_id"))
        .select(col("query_id"), col("node").as("neighbor_id"),
          round(VectorFns.cosine(col("qv"), col("v")), 8).as("cos"))

    val seeds = v.filter(pmod(col("vec_id"), lit(seedMod.toLong)) === 0)
      .select(col("vec_id").as("node"))
    var cands = score(broadcast(q.select(col("query_id"))).crossJoin(seeds))

    for (_ <- 1 to iters) {
      val frontier = Knn.topKPerKey(cands, beam)
        .select(col("query_id"), col("neighbor_id").as("src"))
      // no distinct here: the merge's groupBy dedups anyway, and the
      // extra shuffle costs more than re-scoring ≤ beam duplicate probes
      val expansion = edges.join(broadcast(frontier), Seq("src"))
        .select(col("query_id"), col("dst").as("node"))
      // union + dedup keeps the best-seen set; scores are pure functions
      // of (query, node) so max() is just dedup, never a choice.
      // localCheckpoint (eager) truncates the lineage each hop — without
      // it the plan RE-EXECUTES every earlier hop's joins at every later
      // action (measured 4.2 s → the beam state is |Q|·beam-bounded rows,
      // so materializing it per hop is the d15 bounded-plan rule)
      val merged = cands.unionByName(score(expansion))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cos")).as("cos"))
      // beam state is |Q|·beam-bounded — collapse the shuffle's 32-way
      // layout before materializing so each hop costs O(1) tasks
      cands = if (truncate) merged.coalesce(8).localCheckpoint() else merged
    }
    Knn.topKPerKey(cands, k)
  }

  /** s25: kNN-graph structure profile — per vector, over the UNDIRECTED
    * closure of the s08 exact graph: degree, the closed/possible
    * neighbor-pair counts with the local clustering coefficient in exact
    * integer ppm, and the ≤2-hop reach. The manifold diagnostic read
    * before trusting graph-ANN parameters: high clustering means a walk
    * that enters the right neighborhood stays (small beam suffices);
    * a thin 2-hop reach around the seeds means `iters` must grow.
    * Natural-language corpora cluster heavily; near-uniform embeddings
    * don't — s21 sees that in distances, s25 in topology.
    *
    * Exactness: every column is integer counting off a deterministic edge
    * set (cc_ppm is `closed·10⁶ div pairs`, the q91 rule; null when the
    * degree is 1). Scale shape: all joins key on a vertex; per-vertex
    * work is degree²-bounded (graphK-bounded by construction) — never
    * corpus-quadratic. */
  def graphProfile(emb: DataFrame, graphK: Int = 5): DataFrame = {
    val e = Knn.knnGraph(emb, graphK)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val nbrPairs = und.as("a")
      .join(und.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("v"), col("a.dst").as("n1"), col("b.dst").as("n2"))
    val canon = und.where(col("src") < col("dst"))
      .select(col("src").as("n1"), col("dst").as("n2"))
    val closed = nbrPairs.join(canon, Seq("n1", "n2"), "left_semi")
      .groupBy(col("v")).agg(count(lit(1)).as("n_closed"))
    val twoHop = und.as("a").join(und.as("b"), col("a.dst") === col("b.src"))
      .select(col("a.src"), col("b.dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(und.select(col("src"), col("dst")))
      .distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("two_hop"))
    deg
      .join(closed.select(col("v").as("src"), col("n_closed")), Seq("src"), "left")
      .join(twoHop, Seq("src"))
      .select(col("src").as("vec_id"), col("degree"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"),
        (col("degree") * (col("degree") - 1) / 2).cast("long").as("n_pairs"),
        when(col("degree") < 2, lit(null).cast("long"))
          .otherwise(expr("coalesce(n_closed, 0) * 1000000 div (degree * (degree - 1) div 2)"))
          .as("cc_ppm"),
        col("two_hop"))
  }
}
