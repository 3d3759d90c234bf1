package graft.similarity

import graft.dedup.Dedup
import graft.functions.BroadcastCentroids
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication — k-means-cluster the embedding space, find
  * near-duplicate pairs ONLY within each cluster, and keep one
  * representative per duplicate group. The clustering is what makes
  * semantic dedup tractable at corpus scale: exact all-pairs cosine is
  * Ω(n²), but with k balanced cells the within-cell work is Σ c² ≈
  * n²/k — choose k ∝ n (the paper runs 50k clusters) and the total is
  * linear in the corpus with constant cell cost.
  *
  * Scale shape: centroids come from [[Ivf.train]] (sampled Lloyd's,
  * deterministic init, broadcast k×dim matrix, codegen'd argmin — the
  * driver never holds more than the matrix). The corpus is scanned,
  * normed and assigned ONCE into a tracked cache; pairs and the
  * representative choice both read that frame. Within-cluster pairs
  * reuse the blocked triangular self-join of [[Cosine.nearDupPairs]]
  * with the cluster id fused into the join key, so one oversized cell
  * cannot serialize into a single task: each cell's quadratic work
  * spreads over p(p+1)/2 block-pair tasks. Group resolution is
  * [[Dedup.survivors]] (union-find on the driver while the pairs fit
  * the broadcast threshold, else large-star/small-star rounds).
  *
  * Representative rule: the paper keeps the member with LOW cosine
  * similarity to its cluster centroid (outliers preserve diversity;
  * the paper finds "keep low" ≥ "keep random" ≥ "keep high"). We pin
  * exactly that, tie-broken on id, so the output is deterministic
  * end-to-end.
  */
object SemDedup {

  /** Normed + cluster-assigned corpus: (id, __vd, __nrm, __cid). */
  private def baseOf(df: DataFrame, idCol: String, vecCol: String,
                     bc: BroadcastCentroids): DataFrame =
    Cosine.withNorm(df, vecCol)
      .withColumn("__cid", bc.nearestOne(col("__vd")))
      .select(col(idCol), col("__vd"), col("__nrm"), col("__cid"))

  /** Per-id cosine to the assigned centroid: (id, cluster, cosc). */
  private def coscOf(base: DataFrame, idCol: String,
                     centroids: Array[Array[Double]]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // k rows — the centroid vectors re-enter the plan as a broadcast
    // relation only here (the argmin kernel never needs this join)
    val cents = broadcast(
      centroids.toSeq.zipWithIndex.map(_.swap).toDF("cluster", "__cvec")
        .withColumn("__cnrm",
          sqrt(graft.functions.GraftFunctions.arrayDot(col("__cvec"), col("__cvec")))))
    base.join(cents, col("__cid") === col("cluster"))
      .select(col(idCol), col("cluster"),
        (Cosine.dot(col("__vd"), col("__cvec")) / (col("__nrm") * col("__cnrm"))).as("cosc"))
  }

  /** (id, cluster, cosc) — nearest centroid per vector and the cosine
    * between the vector and that centroid. Zero-norm vectors are
    * dropped by [[Cosine.withNorm]] (their cosine is undefined); a
    * caller that must keep them unions them back as singletons. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame = {
    val bc = BroadcastCentroids(df.sparkSession, centroids)
    coscOf(baseOf(df, idCol, vecCol, bc), idCol, centroids)
  }

  /** All within-cluster pairs (doc1 < doc2) with cosine ≥ `threshold`
    * from a prepared base frame. */
  private def pairsFromBase(base: DataFrame, idCol: String, k: Int,
                            threshold: Double, blocks: Int): DataFrame = {
    val spark = base.sparkSession
    // cells × p(p+1)/2 block-pair keys ≳ 2× shuffle parallelism
    val p = if (blocks > 0) blocks
      else math.min(64, math.max(2,
        math.ceil(math.sqrt(4.0 * spark.sessionState.conf.numShufflePartitions /
          math.max(1, k))).toInt))
    import spark.implicits._
    val blockPairs = for (i <- 0 until p; j <- i until p) yield (i * p + j, i, j)
    val leftRel = broadcast(blockPairs.map { case (pid, i, j) => (pid, i, i == j) }
      .toDF("__pid", "__b", "__same"))
    val rightRel = broadcast(blockPairs.map { case (pid, _, j) => (pid, j) }
      .toDF("__pid", "__b"))
    val blocked = base.withColumn("__b", pmod(xxhash64(col(idCol)), lit(p)).cast("int"))
    val a = blocked.select(col(idCol).as("doc1"), col("__vd").as("v1"),
        col("__nrm").as("n1"), col("__cid"), col("__b"))
      .join(leftRel, "__b")
    val b = blocked.select(col(idCol).as("doc2"), col("__vd").as("v2"),
        col("__nrm").as("n2"), col("__cid"), col("__b"))
      .join(rightRel, "__b")
    a.join(b, Seq("__pid", "__cid"))
      .filter(!col("__same") || (col("doc1") < col("doc2")))
      .withColumn("cos", Cosine.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(least(col("doc1"), col("doc2")).as("doc1"),
        greatest(col("doc1"), col("doc2")).as("doc2"),
        col("__cid").as("cluster"), round(col("cos"), 4).as("cos"))
  }

  /** All within-cluster pairs (doc1 < doc2) with cosine ≥ `threshold`.
    * Exact within the cell assignment: a true near-dup pair straddling
    * two cells is missed by construction — that recall/cost trade IS
    * SemDeDup (raise k for cost, lower it for recall). */
  def clusterDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[Array[Double]], threshold: Double,
                      blocks: Int = 0): DataFrame = {
    val bc = BroadcastCentroids(df.sparkSession, centroids)
    pairsFromBase(baseOf(df, idCol, vecCol, bc), idCol, centroids.length,
      threshold, blocks)
  }

  /** Full SemDeDup pass: returns (id, cluster, kept) for every vector
    * with a defined cosine — `kept` false iff the doc is in a
    * within-cluster duplicate group and is NOT its representative
    * (lowest cosc, then lowest id). Deterministic end-to-end:
    * [[Ivf.train]] init is hash-ordered, iteration count fixed, and
    * every downstream step is exact arithmetic over the result. */
  def dedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
            threshold: Double, iters: Int = 3): DataFrame =
    dedupWith(df, idCol, vecCol, Ivf.train(df, idCol, vecCol, k, iters), threshold)

  /** [[dedup]] with the cell count and trainer sized from the corpus —
    * the knob that keeps the cost law linear as the data grows. Fixed
    * k is a quadratic trap: within-cell work is Σc² ≈ n²/k, so any
    * constant k re-derives the all-pairs cost law at scale. k = ⌈√n⌉
    * makes it n^1.5/constant-cells; Lloyd's assignment is O(k·dim) per
    * row, so training moves to a deterministic md5 sample of ~100·k
    * rows (engine-portable — NOT `df.sample`, whose draw depends on
    * partition layout) and total train cost stays ~100·k²·dim·iters
    * regardless of corpus size. One count() job sizes the corpus. */
  def dedupAuto(df: DataFrame, idCol: String, vecCol: String,
                threshold: Double, iters: Int = 3): DataFrame = {
    val n = math.max(1L, df.count())
    val k = math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
    val frac = math.min(1.0, 100.0 * k / n)
    val trainDf = if (frac >= 1.0) df
      else df.filter(graft.pipeline.Sampling.hashUniform(col(idCol)) <= frac)
    dedupWith(df, idCol, vecCol, Ivf.train(trainDf, idCol, vecCol, k, iters), threshold)
  }

  /** [[dedup]] body over externally supplied centroids. */
  def dedupWith(df: DataFrame, idCol: String, vecCol: String,
                cents: Array[Array[Double]], threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val k = cents.length
    val bc = BroadcastCentroids(spark, cents)
    // one scan+assignment feeds pairs AND the representative choice.
    // The cache lives only for the duration of THIS call: `assigned`
    // is checkpointed eagerly (slim — 3 scalar columns per row) and
    // `survivors` materializes its labels internally, so after both
    // consume the cache the returned plan references only
    // checkpoint-backed frames and the base frame can be untracked —
    // repeated library calls no longer accumulate full-corpus caches
    // in executor storage.
    val base = Dedup.cachedCorpus(baseOf(df, idCol, vecCol, bc))
    val assigned = graft.Checkpoints.checkpoint(coscOf(base, idCol, cents))
    val pairs = pairsFromBase(base, idCol, k, threshold, blocks = 0)
    val labels = Dedup.survivors(pairs, assigned.select(col(idCol)), idCol)
    Dedup.untrack(base)
    // representative per duplicate group: min (cosc, id) — struct
    // min orders lexicographically, exactly the paper's keep-low rule
    val rep = labels.join(assigned.withColumnRenamed(idCol, "id"), Seq("id"))
      .groupBy("survivor")
      .agg(min(struct(col("cosc"), col("id"))).as("__rep"))
      .select(col("survivor"), col("__rep.id").as("__repId"))
    labels.join(rep, Seq("survivor"))
      .select(col("id").as(idCol), (col("id") === col("__repId")).as("kept"))
      .join(assigned, Seq(idCol))
      .select(col(idCol), col("cluster"), col("kept"))
  }
}
