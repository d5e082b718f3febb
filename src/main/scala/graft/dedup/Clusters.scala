package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** d07: duplicate-cluster resolution — pairs are only half of dedup.
  *
  * d02/d03/d04 emit near-dup *pairs*; an actual corpus clean needs the
  * transitive closure of those pairs (if A~B and B~C, keep exactly one of
  * {A,B,C}), i.e. connected components of the pair graph, with one canonical
  * keeper per component. The reference leaves this entirely to user scripts
  * around its record streams (`container/HboxContainer.java:1142-1209`);
  * here it is a first-class operator: registered as `d07_dup_clusters`,
  * oracle-checked against a DuckDB recursive-CTE min-label propagation,
  * and round-count/convergence spec'd (ClustersSpec).
  *
  * Scale shape: the label table holds only documents that appear in at least
  * one pair — a small fraction of the corpus (the corpus itself is never
  * shuffled here). Each round is two hash joins + one aggregation, all
  * shuffling the (id, comp) pairs; min-label propagation alone needs
  * O(diameter) rounds, so every round also path-compresses (comp :=
  * comp(comp), the pointer-jumping step of Kiveris et al.'s "Connected
  * Components in MapReduce" family), which cuts convergence to
  * O(log diameter): 50 rounds covers any component a real corpus can
  * produce. Convergence is detected, not assumed — and non-convergence
  * throws instead of returning wrong clusters. Each round runs exactly ONE
  * blocking materialization (the eager localCheckpoint); the changed-row
  * check is a count over the already-checkpointed blocks, not a second
  * join pipeline.
  *
  * Below [[SmallGraphEdges]] the closure instead runs as a bounded
  * driver-side union-find (an AQE-broadcast-threshold-style adaptive
  * decision — see [[smallGraphComponents]]); ClustersSpec pins the two
  * paths label-identical on a seeded random graph.
  */
object Clusters {

  /** Below this many (deduplicated, directed) edges the closure runs as a
    * driver-side union-find instead of the distributed fixpoint loop — the
    * same decision class as AQE's broadcast threshold: 1M edges ≈ 16 MB,
    * bounded and configurable, against which the loop's per-round cluster
    * jobs are pure overhead. Near-dup pair graphs are tiny relative to
    * their corpus (pairs ∝ actual duplication, not corpus size), so in
    * practice most corpora take this path; the pointer-jumping loop remains
    * the unbounded-scale path and the two are spec-pinned identical. */
  val SmallGraphEdges: Long = 1000000L

  /** Connected components over an undirected edge list (columns d1, d2).
    * Returns (id, comp) for every endpoint, comp = smallest id in the
    * component. See [[connectedComponentsWithRounds]]. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          smallGraphEdges: Long = SmallGraphEdges): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, smallGraphEdges)._1

  /** [[connectedComponents]] through [[graft.Memo]]: d07 and the p01
    * pipeline both close the SAME pair graph, and the fixpoint loop is a
    * multi-job eager computation worth running once per corpus. The labels
    * are localCheckpoint-backed (lineage already truncated), so they are
    * kept as a value and eviction needs no unpersist. */
  def sharedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    graft.Memo.value("Clusters.components", pairs, maxIter)(
      connectedComponents(pairs, maxIter))

  /** [[connectedComponents]] plus the number of rounds the fixpoint loop
    * ran (the convergence-detecting final round included) — pointer
    * jumping makes this ≤ ⌈log₂ diameter⌉ + 1, which ClustersSpec pins on
    * a planted path graph.
    *
    * Invariant: comp(id) is always the id of some node reachable from id and
    * never increases, so the fixpoint is exactly the component minimum; at
    * the fixpoint comp is edge-constant (comp(a) ≤ comp(b) both ways), and
    * the component's minimum node pins the shared value to itself. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 50,
                                    smallGraphEdges: Long = SmallGraphEdges): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter=$maxIter must be >= 1")
    // both directions via a map-side explode: ONE evaluation of the pair
    // subtree (a union of two selects would compute the LSH pipeline twice)
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the edge count gates the small-graph fast path; it doubles as the
    // emptiness check the loop needed anyway, so it costs no extra job
    val nEdges = edges.count()
    // look the id fields up BY NAME — edges are built from col("d1")/
    // col("d2"), so a frame where d1/d2 are not the first two columns must
    // still gate on the right types (positional take(2) would check the
    // wrong fields and could send string ids down the integral fast path)
    val integralIds = Seq("d1", "d2").forall(n => pairs.schema(n).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (nEdges <= smallGraphEdges && integralIds) {
      val result = smallGraphComponents(pairs, edges)
      edges.unpersist(blocking = false)
      return (result, 0)
    }
    var labels = edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint(true) // eager: truncates lineage at every round
    var converged = nEdges == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // relax: comp := min(comp, neighbors' comp) — one join + one agg.
      // The previous label rides along (`prev`): every edge endpoint is in
      // `labels`, so each id-group has exactly one non-null prev, and the
      // convergence check below never needs a second join against `labels`.
      val viaEdges = labels.join(edges, col("id") === col("a"))
        .select(col("b").as("id"), col("comp"), lit(null).cast("long").as("prev"))
      val relaxed = labels.select(col("id"), col("comp"), col("comp").as("prev"))
        .unionByName(viaEdges)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), min(col("prev")).as("prev"))
        // read twice by the compress self-join below — persist so the
        // relax pipeline (join + agg) runs once per round, not twice
        .persist(StorageLevel.MEMORY_AND_DISK)
      // compress: comp := comp(comp) — comp values are node ids, and
      // comp(comp) ≤ comp by monotonicity, so this only ever jumps downhill
      val next = relaxed.as("x")
        .join(relaxed.select(col("id").as("cid"), col("comp").as("ccomp")).as("y"),
          col("x.comp") === col("y.cid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.ccomp"), col("x.comp")).as("comp"),
          col("x.prev").as("prev"))
        .localCheckpoint(true) // the round's ONE blocking materialization
      relaxed.unpersist(blocking = false)
      // cheap scan of the checkpointed blocks — no joins, no recompute
      converged = next.where(col("comp") < col("prev")).isEmpty
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (compression makes rounds logarithmic in diameter)")
    (labels, iter)
  }

  /** The bounded driver-side closure: collect the (≤ smallGraphEdges,
    * integral-id) edge list, run union-find with path halving and min-root
    * union (so every root IS its component's minimum id — no relabel pass),
    * and hand the labels back as a local relation in the caller's id type.
    * This is the only data `collect()` in the engine gated by an explicit
    * size bound; like the IVF centroids it is a model-artifact-scale
    * transfer, not a corpus transfer. */
  private def smallGraphComponents(pairs: DataFrame, edges: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val idType = pairs.schema.head.dataType
    val es = edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving: point x at its grandparent
        val g = parent.getOrDefault(p, p)
        parent.put(x, g); x = g; p = parent.getOrDefault(x, x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min-root union keeps every root the component min
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      parent.putIfAbsent(a, find(a)); parent.putIfAbsent(b, find(b))
    }
    // snapshot keys before the final find pass: path halving overwrites
    // existing entries (never inserts), but iterating a live keySet while
    // mutating values is a habit worth not keeping
    val keys = parent.keySet().toArray(Array.empty[java.lang.Long])
    val nodes = keys.map(id => (id.longValue(), find(id.longValue())))
    nodes.toSeq.toDF("id", "comp")
      .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
  }

  /** d07: near-dup clusters of a document corpus — MinHash-LSH pairs (the
    * at-scale candidate path, see [[Dedup.minHashLshPairs]]) closed under
    * transitivity. One row per document that has at least one near-dup:
    * its cluster id (= smallest doc_id in the cluster), the cluster size,
    * and `keep` marking the one canonical document per cluster. A corpus
    * clean keeps every unpaired document plus the `keep` rows: an anti
    * join of the corpus against the non-`keep` rows, transitively correct
    * (A~C and B~C with no A~B pair still collapses {A,B,C} to A). */
  def dupClusters(docs: DataFrame, threshold: Double = 0.8,
                  bands: Int = 16, rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    val pairs = Dedup.minHashLshPairs(docs, threshold, bands, rowsPerBand, k)
      .select(col("d1"), col("d2"))
    clusterTable(sharedComponents(pairs))
  }

  /** d09: semantic duplicate clusters — the SemDeDup-style flow (Abbas et
    * al. 2023: embedding-space near-dup groups, one keeper each) as the
    * same closure over a DIFFERENT pair family: d06's IVF-bucketed
    * embedding pairs instead of d03's LSH text pairs. Cluster resolution
    * is pair-family-generic by construction — this operator is the second
    * instantiation that proves it. Same output contract as [[dupClusters]]
    * (cluster id = min vec_id, one `keep` per cluster). */
  def embeddingClusters(emb: DataFrame, threshold: Double = 0.45,
                        nCells: Int = 10, nProbe: Int = 2): DataFrame = {
    val pairs = Dedup.embeddingDupPairsIvf(emb, threshold, nCells, nProbe)
      .select(col("d1"), col("d2"))
    sharedComponents(pairs)
      .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  /** d22: edit-distance duplicate clusters — the transitive closure over
    * the d19 pair family: short-text fuzzy-dup groups (titles, queries,
    * captions — d19's declared domain), one canonical keeper each. The
    * THIRD pair-family instantiation of the closure (d07 = LSH text
    * pairs, d09 = IVF embedding pairs), same output contract as
    * [[dupClusters]]. Because d19's length-band blocking is exact, the
    * pair graph here IS the brute-force one — the closure inherits
    * exactness end-to-end, so unlike d07 (whose LSH candidates carry a
    * recall spec) d22 oracle-checks against the d07 recursive CTE nested
    * over the blocking-free edit-pair SQL. */
  def editClusters(docs: DataFrame, maxDist: Int = 32): DataFrame = {
    val pairs = Dedup.sharedEditPairs(docs, maxDist)
      .select(col("d1"), col("d2"))
    clusterTable(sharedComponents(pairs))
  }

  /** d15: incremental cluster maintenance — merge a new batch's near-dup
    * pairs into a STANDING label table without re-closing the full pair
    * graph. This completes the incremental-ingestion family: d08 admits
    * exact-new docs, d10 admits near-dup-new docs, and this keeps the
    * cluster bookkeeping (d07's output, which p17's split and the
    * keeper clean consume) current as batches land.
    *
    * Correctness: the standing labels ARE a contracted forest (every id
    * points at its component's minimum), so closing the union graph is
    * equivalent to (1) mapping each new-pair endpoint through its standing
    * label (unlabeled endpoints map to themselves), (2) running connected
    * components over the CONTRACTED pairs only, and (3) re-rooting
    * standing labels through the comp-level result. Merged-component
    * minima are preserved exactly: every contracted node id is either an
    * old component minimum or a new doc id, so the min over contracted ids
    * is the min over all member ids — the result is spec-pinned EQUAL to a
    * full recompute over the union (ClustersSpec + a randomized
    * two-batch-vs-full law in GraftProperties).
    *
    * Scale shape: the standing labels are joined (left) onto the BATCH
    * pairs — batch-bounded traffic; the closure runs over contracted
    * batch pairs only (∝ batch duplication, usually the driver union-find
    * fast path); the final re-root is one broadcast-sized join against
    * the comp-level mapping (∝ components touched this batch). The
    * standing graph's historical pairs are never revisited — per-batch
    * cost is independent of how much duplication history the corpus has
    * accumulated, which is what makes nightly ingestion viable at 100 TB. */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val l1 = labels.select(col("id").as("d1"), col("comp").as("c1"))
    val l2 = labels.select(col("id").as("d2"), col("comp").as("c2"))
    val contracted = newPairs
      .join(l1, Seq("d1"), "left").join(l2, Seq("d2"), "left")
      .select(coalesce(col("c1"), col("d1")).as("d1"),
        coalesce(col("c2"), col("d2")).as("d2"))
    val cc = connectedComponents(contracted, maxIter)
    val reroot = cc.select(col("id").as("comp"), col("comp").as("new_comp"))
    val updated = labels.join(reroot, Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
    // endpoints first labeled by this batch: their contracted node is
    // themselves, so cc carries their final label directly
    val newlyLabeled = newPairs.select(col("d1").as("id"))
      .union(newPairs.select(col("d2").as("id"))).distinct()
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .join(cc, Seq("id"))
    updated.unionByName(newlyLabeled)
  }

  /** The d07 output contract over any (id, comp) label table: one row per
    * labeled document — cluster id, cluster size, canonical keeper flag. */
  def clusterTable(labels: DataFrame): DataFrame =
    labels
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("doc_id") === col("cluster_id"))

  /** d26: cluster-aware representative sampling — keep ⌈√size⌉ documents
    * per near-dup cluster instead of exactly one. The middle ground
    * between no dedup (duplicated content over-weights its sources) and
    * keep-one (d07/d11 — which flattens a 10 000-copy boilerplate family
    * and a 2-copy genuine repost to the same single exemplar): sublinear
    * retention preserves a frequency signal a language model can still
    * learn from while removing the quadratic bulk, the dedup-strength
    * compromise discussed in the dedup literature (e.g. Lee et al. 2022's
    * observation that SOME natural repetition is in-distribution).
    * Singletons pass through whole (cluster of 1, quota 1).
    *
    * Representative choice is deterministic and content-blind: order
    * cluster members by (md5(doc_id), doc_id) — a seeded shuffle both
    * engines reproduce — and keep the first ⌈√size⌉. ⌈√·⌉ in exact
    * integer arithmetic: c = ⌊√n⌋ via correctly-rounded IEEE sqrt
    * (exact for n ≤ 2⁵² with the +1 correction when c² < n; the same
    * formula renders into the oracle, so no engine can round
    * differently).
    *
    * Scale shape: d07's pair closure (LSH-bounded) + one corpus anti-join
    * for singletons + one window pass partitioned by cluster_id — skew-
    * safe because cluster sizes are duplication-bounded, and the window
    * ranks only CLUSTERED docs (the anti-join side never sorts). */
  def clusterSample(docs: DataFrame, threshold: Double = 0.8,
                    bands: Int = 16, rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    val cl = dupClusters(docs, threshold, bands, rowsPerBand, k)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val singles = docs.select(col("doc_id"))
      .join(cl.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val c = floor(sqrt(col("cluster_size").cast("double"))).cast("long")
    cl.unionByName(singles)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .withColumn("quota", c + when(c * c < col("cluster_size"), 1L).otherwise(0L))
      .where(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("sample_rank"))
  }

  /** d27: duplication census — the cluster-SIZE distribution of the d07
    * near-dup closure, singletons included: per size, how many clusters,
    * how many documents, their corpus share, and the excess (docs a
    * keep-one dedup would drop). The headline table a dedup decision is
    * actually made from — "31 % of the corpus sits in clusters, the top
    * size is 40 000" — before anyone runs d07/d26/p31: total duplication
    * load prices the whole effort, and the size SHAPE picks the policy
    * (a fat tail of 2-copy clusters wants d26's √-retention; a few
    * monster clusters want p31's provenance keeper; d18 tunes τ, d27
    * weighs what τ's clusters amount to).
    *
    * Exactness: sizes/counts are exact longs off the cluster table ∪
    * singleton anti-join; doc_share is one unrounded IEEE division (the
    * t13 rule); the oracle nests the d07 recursive CTE (the d26/p31
    * precedent), so the census is exact end to end.
    *
    * Scale shape: d07's LSH-bounded closure (labels session-memoized,
    * shared with every other consumer) + one corpus anti-join for
    * singletons + a ≤|distinct sizes| aggregation — output is a handful
    * of rows at any corpus scale. */
  /** d31: per-cluster structure audit — for every d07 cluster: doc count,
    * observed near-dup edges, possible edges, edge density in exact ppm,
    * the is-clique flag and the min/max edge jaccard. The per-cluster
    * companion to d30's global transitivity gap: a large low-density
    * cluster merged by CHAINING (weak min edge, far-from-clique) is
    * exactly the review case d26 samples and a higher τ would split;
    * cliques of high-jaccard edges are safe bulk deletions. Rides the
    * memoized LSH pair frame and the memoized d07 labels — one
    * cluster-keyed aggregation beyond them; output ∝ clusters.
    * Exact integers + d02's one-division jaccard throughout. */
  def clusterAudit(docs: DataFrame, threshold: Double = 0.8,
                   bands: Int = 16, rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    val pairs = Dedup.minHashLshPairs(docs, threshold, bands, rowsPerBand, k)
    val labels = dupClusters(docs, threshold, bands, rowsPerBand, k)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val edges = pairs
      .join(labels.select(col("doc_id").as("d1"), col("cluster_id")), Seq("d1"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
    labels.select(col("cluster_id"), col("cluster_size")).distinct()
      .join(edges, Seq("cluster_id"))
      .select(col("cluster_id"), col("cluster_size").as("n_docs"),
        col("n_edges"),
        expr("cluster_size * (cluster_size - 1) div 2").as("n_possible"),
        expr("n_edges * 1000000 div (cluster_size * (cluster_size - 1) div 2)")
          .as("density_ppm"),
        (col("n_edges") === expr("cluster_size * (cluster_size - 1) div 2"))
          .as("is_clique"),
        col("min_jaccard"), col("max_jaccard"))
  }

  def duplicationCensus(docs: DataFrame, threshold: Double = 0.8,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        k: Int = 3): DataFrame = {
    val cl = dupClusters(docs, threshold, bands, rowsPerBand, k)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val singles = docs.select(col("doc_id"))
      .join(cl.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    cl.unionByName(singles)
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("doc_share"),
        (col("n_docs") - col("n_clusters")).as("n_excess"))
  }

  /** d32: centrality-ranked canonical pick — a damped power iteration
    * (PageRank over the undirected dup-pair graph, Brin & Page 1998)
    * that ranks every near-dup document by how CENTRAL it is in its
    * cluster, then marks the max-rank doc per d07 cluster as the
    * canonical. d25 picks keepers by an intrinsic score (quality/length);
    * this picks by GRAPH position — in a chain-merged cluster the middle
    * document (the one actually similar to everything) wins over the
    * endpoints, which is the right representative to keep when the
    * cluster is collapsed to one doc or sampled for review (d26).
    *
    * Float discipline: ranks live in integer parts-per-billion — r0 =
    * 1e9 div n, each round r' = (0.15·1e9) div n + (85 · Σ_nbr r/deg)
    * div 100, all BIGINT — so per-round sums are order-independent and
    * the oracle (same chain in SQL) matches exactly, no rounding ever.
    *
    * Scale shape: the graph is the pair set only (corpus never touched);
    * each of the fixed `iters` rounds is one edge-keyed hash join + one
    * dst-keyed partial-agg sum — exchanges bounded by edge count, rank
    * state bounded by node count. The canonical pick reuses the
    * cluster-keyed partitioning of the d07 labels it joins. */
  def rankCanonical(docs: DataFrame, threshold: Double = 0.8,
                    bands: Int = 16, rowsPerBand: Int = 4, k: Int = 3,
                    iters: Int = 3): DataFrame = {
    val pairs = Dedup.minHashLshPairs(docs, threshold, bands, rowsPerBand, k)
      .select(col("d1"), col("d2"))
    // adaptive path choice, the smallGraphComponents precedent: pair graphs
    // are tiny relative to their corpus, and below the bounded-transfer
    // threshold the 3 fixed rounds of eager localCheckpoint jobs are pure
    // overhead (round-8 profile: d32 spent 5 s on job scheduling for a
    // 47-node graph) — the count doubles as the emptiness check. The count
    // is NOT a wasted evaluation: minHashLshPairs is session-memoized with
    // persist() (graft.Memo), so this first action populates the shared
    // cache that powerRanks* and the dupClusters call below then read.
    val integralIds = Seq("d1", "d2").forall(n => pairs.schema(n).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    val ranks =
      if (integralIds && 2 * pairs.count() <= SmallGraphEdges)
        powerRanksLocal(pairs, iters)
      else powerRanksDistributed(pairs, iters)
    val labels = dupClusters(docs, threshold, bands, rowsPerBand, k)
      .select(col("doc_id"), col("cluster_id"))
    labels.join(ranks.select(col("id").as("doc_id"), col("rank_ppb")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("rank_ppb"),
        (row_number().over(Window.partitionBy(col("cluster_id"))
          .orderBy(col("rank_ppb").desc, col("doc_id"))) === 1)
          .as("is_canonical"))
  }

  /** The unbounded-scale power iteration: per round one edge-keyed hash
    * join + one dst-keyed partial-agg sum, state bounded by node count.
    * Returns (id, rank_ppb). Spec-pinned value-identical to
    * [[powerRanksLocal]] (ClustersSpec) — the arithmetic is all BIGINT. */
  private[graft] def powerRanksDistributed(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n"))
    // eager localCheckpoint per round (the d07 loop's discipline): `ranks`
    // feeds BOTH the contrib join and the update join, so an unmaterialized
    // loop doubles the plan every round (2^iters edge joins by round 3) —
    // checkpointing keeps each round to one edge join + one agg over state
    // bounded by the node count, and the integer ranks are deterministic so
    // materialization cannot change any value
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("src").as("id"), col("deg"), col("n"),
        expr("1000000000L div n").as("rank_ppb"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.select(col("id").as("src"),
          expr("rank_ppb div deg").as("c")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = ranks.join(contrib.select(col("dst").as("id"), col("in_sum")), Seq("id"))
        .select(col("id"), col("deg"), col("n"),
          expr("150000000L div n + (85L * in_sum) div 100L").as("rank_ppb"))
        .localCheckpoint(true)
    }
    ranks.select(col("id"), col("rank_ppb"))
  }

  /** The bounded driver-side power iteration, the [[smallGraphComponents]]
    * class of fast path: collect the (≤ [[SmallGraphEdges]], integral-id)
    * pair list and replay the EXACT integer recurrence — r0 = 1e9 div n,
    * r' = 0.15e9 div n + (85 · Σ_nbr (r div deg)) div 100, every operand a
    * positive long, so JVM `/` and Spark `div` agree digit for digit and
    * the two paths are value-identical by construction (spec-pinned).
    * Returns (id, rank_ppb) as a local relation in the caller's id type. */
  private[graft] def powerRanksLocal(pairs: DataFrame, iters: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val idType = pairs.schema("d1").dataType
    val es = pairs.select(col("d1").cast("long"), col("d2").cast("long"))
      .as[(Long, Long)].collect()
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, b) =>
      deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
    }
    val n = deg.size().toLong
    var ranks = new java.util.HashMap[Long, Long]()
    deg.keySet().forEach(id => ranks.put(id, if (n == 0) 0L else 1000000000L / n))
    for (_ <- 1 to iters) {
      val inSum = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) => // synchronous update: contributions read
        inSum.merge(b, ranks.get(a) / deg.get(a), _ + _) // the PREVIOUS round
        inSum.merge(a, ranks.get(b) / deg.get(b), _ + _)
      }
      val next = new java.util.HashMap[Long, Long]()
      inSum.forEach((id, s) => next.put(id, 150000000L / n + (85L * s) / 100L))
      ranks = next
    }
    import scala.jdk.CollectionConverters._
    val rows = ranks.asScala.toSeq.map { case (k, v) => (k, v) }
    rows.toDF("id", "rank_ppb")
      .select(col("id").cast(idType).as("id"), col("rank_ppb"))
  }

  /** d34: threshold-stability audit — how much of the τ = 0.8 clustering
    * SURVIVES at τ = 0.9: doc-pairs co-clustered at both thresholds vs
    * pairs the stricter threshold splits, as one exact-ppm stability
    * share. The cluster-level answer to d18's pair-level curve (and the
    * robustness number behind d30/d31's chaining warnings): a low share
    * means the dedup's groupings are an artifact of the τ choice, not of
    * the data. Because the τ = 0.9 pair set is a FILTER of the shared
    * τ = 0.8 pair frame (no second LSH pass), the strict clustering
    * refines the loose one — pairs co-clustered strictly but not loosely
    * are impossible, which the spec pins as a law.
    *
    * Counting is contingency-table Rand (never materializing doc-pairs):
    * Σ n·(n−1)/2 over the (loose, strict) label-combination sizes vs
    * over the loose cluster sizes — exact longs, one ppm division.
    *
    * Scale shape: both closures run over the pair graph only; the label
    * join and the three size aggregations are bounded by paired docs;
    * output is ONE row. */
  /** Σ n·(n−1)/2 over the group sizes of `keys` — the contingency-table
    * co-clustered-pair count shared by d34/d35 (never materializes
    * doc-pairs; exact longs). */
  private def pairSum(df: DataFrame, keys: Seq[String], out: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as(out))

  def thresholdStability(docs: DataFrame, tHi: Double = 0.9,
                         threshold: Double = 0.8, bands: Int = 16,
                         rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    require(tHi >= threshold, s"tHi=$tHi must be >= base threshold $threshold")
    val pairsLo = Dedup.minHashLshPairs(docs, threshold, bands, rowsPerBand, k)
    val lo = sharedComponents(pairsLo.select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp").as("c1"))
    val hi = sharedComponents(
        pairsLo.filter(col("jaccard") >= tHi).select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp").as("c2"))
    // full outer: a doc paired loosely but unpaired strictly is a strict
    // singleton (its own label) — and vice versa cannot happen
    val labs = lo.join(hi, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("c1"), col("doc_id")).as("c1"),
        coalesce(col("c2"), col("doc_id")).as("c2"))
    val both = pairSum(labs, Seq("c1", "c2"), "both_pairs")
    val loose = pairSum(labs, Seq("c1"), "loose_pairs")
    val nDocs = labs.agg(count(lit(1)).as("n_docs"))
    val nLo = labs.select(col("c1")).distinct().agg(count(lit(1)).as("n_clusters_loose"))
    val nHi = labs.select(col("c2")).distinct().agg(count(lit(1)).as("n_clusters_strict"))
    nDocs.crossJoin(nLo).crossJoin(nHi).crossJoin(both).crossJoin(loose)
      .select(col("n_docs"), col("n_clusters_loose"), col("n_clusters_strict"),
        col("both_pairs"), (col("loose_pairs") - col("both_pairs")).as("split_pairs"),
        when(col("loose_pairs") > 0,
          expr("both_pairs * 1000000 div loose_pairs")).as("stability_ppm"))
  }

  /** d37: dedup drop profile — which QUALITY strata the near-dup sweep
    * deletes from: per t03-score decile, total docs, docs a
    * keeper clean would drop (non-keeper cluster members)
    * and the drop share in exact ppm. The interplay audit curation teams
    * run before committing a dedup pass: mass concentrated in LOW
    * deciles says dedup is removing junk (template spam duplicates
    * itself — fine); mass in HIGH deciles says syndication is eating
    * good content and the keeper rule (d11/d25/d32) deserves attention.
    * Composes two families the engine already pays for — the d07
    * closure and the scan-local t03 score — so the audit's own cost is
    * one 10-key aggregation.
    *
    * Exactness: the bucket floors a per-row IEEE projection (the q107
    * rule); counts and shares are exact integers; the oracle nests the
    * d07 recursive CTE. */
  def dropProfile(docs: DataFrame, threshold: Double = 0.8, bands: Int = 16,
                  rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    val dropped = dupClusters(docs, threshold, bands, rowsPerBand, k)
      .filter(!col("keep")).select(col("doc_id"), lit(true).as("dropped"))
    docs
      .select(col("doc_id"),
        least(floor(graft.functions.TextFns.qualityScore(col("text")) * 10)
          .cast("long"), lit(9L)).as("bucket"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("drop_ppm", expr("n_dropped * 1000000 div n_docs"))
  }

  /** d36: pair corroboration — per verified near-dup pair, its TRIANGLE
    * SUPPORT: how many third documents are near-dups of BOTH endpoints.
    * Support 0 is an UNCORROBORATED edge — no independent witness agrees
    * the two docs belong together — exactly the chain-culprit profile
    * behind d30's transitivity gap and d31's low-density clusters (a
    * boilerplate-bridged false pair is rarely corroborated; a true
    * duplicate family corroborates every internal edge). The per-edge
    * answer to d31's per-cluster density: d31 says WHICH cluster is
    * chain-merged, d36 says which EDGE to cut (feeding p46-style
    * review queues before a keeper sweep).
    *
    * Distributed shape — the standard edge-iterator triangle count: the
    * symmetric edge list wedges on the shared center (one join), wedges
    * close against the ordered pair set (one join), counts partial-agg
    * per edge. Everything is ∝ pair-graph size (wedges ∝ Σ deg², the
    * hub-doc hot spot AQE handles — never corpus-sized). */
  def pairSupport(docs: DataFrame, threshold: Double = 0.8, k: Int = 3): DataFrame = {
    val pairs = Dedup.sharedJaccardPairs(docs, threshold, k)
      .select(col("d1"), col("d2"))
    val edges = pairs.select(col("d1").as("w"), col("d2").as("x"))
      .unionByName(pairs.select(col("d2").as("w"), col("d1").as("x")))
    val wedges = edges.select(col("w"), col("x").as("a"))
      .join(edges.select(col("w"), col("x").as("b")), Seq("w"))
      .where(col("a") < col("b"))
    val tri = wedges
      .join(pairs.select(col("d1").as("a"), col("d2").as("b")), Seq("a", "b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    pairs
      .join(tri.select(col("a").as("d1"), col("b").as("d2"), col("support")),
        Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"),
        coalesce(col("support"), lit(0L)).as("support"),
        (coalesce(col("support"), lit(0L)) > 0L).as("corroborated"))
  }

  /** d35: cross-method cluster agreement — do the shingle-Jaccard (d07)
    * and edit-distance (d22) clusterings GROUP the same way? d20 answers
    * at the doc level (is the doc flagged by both methods); d35 answers
    * at the structure level: pairs co-clustered by both vs by only one,
    * as a Jaccard of the two co-clustered-pair sets in exact ppm. The
    * methods disagree by construction on some families (block moves keep
    * the shingle set but blow the edit budget; scattered token
    * substitutions are edit-small but shingle-destroying), so a LOW
    * score localizes which family dominates
    * the corpus — and unlike d34's refinement the two closures are
    * incomparable, both one-only counts can be nonzero.
    *
    * Same contingency-table counting as d34 (never doc-pairs); the doc
    * universe is docs paired by EITHER method, each a singleton in the
    * method that didn't pair it. Scale shape: two closures over pair
    * graphs only, one full-outer label join bounded by paired docs, three
    * size aggregations, ONE output row. */
  def methodClusterAgreement(docs: DataFrame, threshold: Double = 0.8,
                             maxDist: Int = 32, k: Int = 3): DataFrame = {
    val pj = Dedup.sharedJaccardPairs(docs, threshold, k)
    val pe = Dedup.sharedEditPairs(docs, maxDist)
    val lj = sharedComponents(pj.select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp").as("cj"))
    val le = sharedComponents(pe.select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("comp").as("ce"))
    val labs = lj.join(le, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("cj"), col("doc_id")).as("cj"),
        coalesce(col("ce"), col("doc_id")).as("ce"))
    val both = pairSum(labs, Seq("cj", "ce"), "both_pairs")
    val jac = pairSum(labs, Seq("cj"), "jaccard_pairs")
    val edt = pairSum(labs, Seq("ce"), "edit_pairs")
    val nDocs = labs.agg(count(lit(1)).as("n_docs"))
    val nJ = labs.select(col("cj")).distinct()
      .agg(count(lit(1)).as("n_clusters_jaccard"))
    val nE = labs.select(col("ce")).distinct()
      .agg(count(lit(1)).as("n_clusters_edit"))
    nDocs.crossJoin(nJ).crossJoin(nE).crossJoin(both).crossJoin(jac).crossJoin(edt)
      .select(col("n_docs"), col("n_clusters_jaccard"), col("n_clusters_edit"),
        col("both_pairs"),
        (col("jaccard_pairs") - col("both_pairs")).as("jaccard_only_pairs"),
        (col("edit_pairs") - col("both_pairs")).as("edit_only_pairs"),
        when(col("jaccard_pairs") + col("edit_pairs") - col("both_pairs") > 0,
          expr("both_pairs * 1000000 div (jaccard_pairs + edit_pairs - both_pairs)"))
          .as("agreement_ppm"))
  }
}
