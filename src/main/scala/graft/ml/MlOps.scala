package graft.ml

import org.apache.spark.BarrierTaskContext
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, IDF, MinHashLSH, NGram, Tokenizer, Word2Vec, Word2VecModel}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML / distributed-training parity (SURVEY.md §2.2 C1–C5, §7 M4).
  *
  * The reference's whole purpose is scheduling opaque training jobs with a
  * rendezvous step — TF ClusterSpec gather/broadcast
  * (`AM/ApplicationContainerListener.java:768-803`), LightGBM ip-port lists
  * (`container/HboxContainer.java:804-880`), PyTorch rank-0 exchange
  * (`:882-909`). Spark-native replacements:
  *   - in-engine training: `spark.ml` Pipelines (no external process at all);
  *   - gang-scheduled rendezvous for external frameworks: barrier execution —
  *     `BarrierTaskContext.getTaskInfos()` hands every task the full address
  *     list, which IS the ClusterSpec.
  */
object MlOps {

  /** Text featurization pipeline (tokenize → hashingTF → IDF): the in-engine
    * analog of the reference's text-preprocessing worker scripts. */
  def tfidfPipeline(docs: DataFrame, numFeatures: Int = 1 << 12): DataFrame = {
    val pipe = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new HashingTF().setInputCol("words").setOutputCol("tf").setNumFeatures(numFeatures),
      new IDF().setInputCol("tf").setOutputCol("tfidf")))
    pipe.fit(docs).transform(docs)
  }

  /** KMeans cluster centers — the tiny model artifact (k × dims doubles)
    * that parameterizes Knn.ivf's cells. Training is distributed; only the
    * k centers (the model) come back to the driver.
    *
    * Engine-native Lloyd instead of MLlib's KMeans: IVF cells need a
    * reasonable space partition, not converged clusters, and MLlib pays
    * ~8 scheduler jobs (sampled init, per-iteration treeAggregate, boxed
    * Vectors) where this needs one codegen'd aggregation job per
    * iteration. Assignment reuses the same literal-centroid argmin
    * expression the IVF scan itself uses, so training and serving are the
    * same code path. At 100 TB each iteration is one map-side partial
    * aggregation whose exchange carries k×(dims+1) doubles per partition —
    * independent of corpus size. */
  def kmeansCenters(emb: DataFrame, k: Int = 10, maxIter: Int = 3): Array[Array[Double]] = {
    val sc = emb.sparkSession.sparkContext
    val data = emb.select(col("embedding").cast("array<double>"))
      .rdd.map(_.getSeq[Double](0).toArray).persist()
    try {
      // deterministic seed-free init: the k vectors with the smallest
      // xxhash64(vec_id) — a uniform draw over the corpus that plans as
      // TakeOrderedAndProject (k rows to the driver, never a sort)
      var centers: Array[Array[Double]] = emb
        .select(col("embedding").cast("array<double>").as("v"), xxhash64(col("vec_id")).as("h"))
        .orderBy(col("h")).limit(k)
        .collect().map(_.getSeq[Double](0).toArray)
      require(centers.nonEmpty, "kmeansCenters: empty corpus")
      // corpora smaller than k: every point is its own center
      val kEff = centers.length
      val dims = centers.head.length
      (0 until maxIter).foreach { _ =>
        val bc = sc.broadcast(centers)
        // one job per iteration: per-partition assignment + partial sums in
        // tight JVM code (a Catalyst re-plan per iteration costs more on
        // the driver than the whole pass does on the executors), merged by
        // treeReduce — each task ships k×(dims+1) doubles, independent of
        // corpus size
        val (sums, counts) = data.mapPartitions { it =>
          val cs = bc.value
          val s = Array.ofDim[Double](kEff, dims)
          val n = new Array[Long](kEff)
          it.foreach { vec =>
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < kEff) {
              var d = 0.0; var i = 0
              while (i < dims) { val t = vec(i) - cs(c)(i); d += t * t; i += 1 }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            var i = 0
            while (i < dims) { s(best)(i) += vec(i); i += 1 }
            n(best) += 1
          }
          Iterator((s, n))
        }.treeReduce { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < kEff) {
            var i = 0
            while (i < dims) { s1(c)(i) += s2(c)(i); i += 1 }
            n1(c) += n2(c); c += 1
          }
          (s1, n1)
        }
        bc.unpersist(blocking = false)
        centers = centers.indices.map { c =>
          if (counts(c) == 0) centers(c) // empty cell keeps its center
          else Array.tabulate(dims)(i => sums(c)(i) / counts(c))
        }.toArray
      }
      centers
    } finally { data.unpersist(blocking = false); () }
  }

  /** Word2Vec token embeddings over the corpus — the skip-gram text-analysis
    * member of the §2.3 ML row (alongside Tokenizer/HashingTF/IDF and the
    * LSH families). Seed-pinned and single-partition so the fit is
    * deterministic run-to-run — model values, no SQL oracle; the spec pins
    * the vocabulary, the determinism and the synonym order. At scale,
    * raise `numPartitions` (MLlib trains Hogwild-style across partitions)
    * at the declared cost of run-to-run bit determinism — the same trade
    * KenLM-scale corpora accept. */
  def word2vecModel(docs: DataFrame, vectorSize: Int = 16,
                    minCount: Int = 2): Word2VecModel = {
    val words = new Tokenizer().setInputCol("text").setOutputCol("words").transform(docs)
    new Word2Vec().setInputCol("words").setOutputCol("w2v")
      .setVectorSize(vectorSize).setMinCount(minCount)
      .setSeed(42L).setNumPartitions(1).setMaxIter(1)
      .fit(words)
  }

  /** MLlib-native near-dup candidates: tokenize → 3-grams → binary HashingTF
    * → MinHashLSH approx self-join. The library counterpart of the hand-tuned
    * banded implementation in graft.dedup.Dedup.minHashLshPairs (which stays
    * the bench path); OR-amplified with 8 hash tables, so a pair at jaccard
    * ≥ 0.8 is missed with probability (1-0.8)^8 ≈ 3e-6.
    * `maxDistance` is Jaccard *distance* (1 - similarity). */
  def mlMinHashNearDups(docs: DataFrame, maxDistance: Double = 0.2): DataFrame = {
    val featurize = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new NGram().setN(3).setInputCol("words").setOutputCol("grams"),
      new HashingTF().setInputCol("grams").setOutputCol("features")
        .setNumFeatures(1 << 18).setBinary(true)))
    val feats = featurize.fit(docs).transform(docs)
      .filter(size(col("grams")) > 0) // MinHashLSH rejects all-zero vectors
      .select("doc_id", "features")
    val model = new MinHashLSH().setNumHashTables(8).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes").fit(feats)
    model.approxSimilarityJoin(feats, feats, maxDistance, "dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(
        col("datasetA.doc_id").as("d1"),
        col("datasetB.doc_id").as("d2"),
        round(lit(1.0) - col("dist"), 4).as("jaccard"))
  }

  /** MLlib-native ANN over embeddings: random-hyperplane bucketing
    * (BucketedRandomProjectionLSH) + approx self-join within a euclidean
    * radius. Library counterpart of graft.similarity.Knn.ivf. */
  def mlEuclideanNearDups(spark: SparkSession, emb: DataFrame,
                          radius: Double = 4.0): DataFrame = {
    import spark.implicits._
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, a) => (id, Vectors.dense(a.map(_.toDouble))) }
      .toDF("vec_id", "features")
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes").fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, radius, "dist")
      .filter(col("datasetA.vec_id") < col("datasetB.vec_id"))
      .select(
        col("datasetA.vec_id").as("d1"),
        col("datasetB.vec_id").as("d2"),
        round(col("dist"), 6).as("dist"))
  }

  /** Barrier-mode rendezvous: every task learns the full task-address list
    * before proceeding — the Spark-native TF_CONFIG/ClusterSpec (replaces
    * reference RPCs reportReservedPort/getClusterDef,
    * `ApplicationContainerProtocol.java:43-55`). Returns (rank, address,
    * clusterSize) per task. */
  def rendezvous(spark: SparkSession, numTasks: Int): Array[(Int, String, Int)] =
    spark.sparkContext
      .parallelize(0 until numTasks, numTasks)
      .barrier()
      .mapPartitions { _ =>
        val ctx = BarrierTaskContext.get()
        val infos = ctx.getTaskInfos()
        ctx.barrier()
        Iterator((ctx.partitionId(), infos(ctx.partitionId()).address, infos.length))
      }
      .collect()
}
