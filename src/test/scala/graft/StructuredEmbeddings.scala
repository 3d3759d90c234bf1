package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic STRUCTURED embedding generator: planted clusters on
  * the unit sphere with per-cluster scale — the testdata the r17
  * verdict prescribed for grounding the ANN chooser (SURVEY §2 row
  * 55d).
  *
  * Why it exists: every ANN recall number through r17 was measured on
  * the driver testdata's near-isotropic embeddings (per-dim variance
  * ≈ 1/64 uniformly), where kc=1024 coarse cells capture only 19.8%
  * of unit-sphere variance (BENCH_pq_recall_r17.json
  * variance_capture). Real text/image embedding models emit
  * manifold-structured vectors — points concentrate around topic
  * clusters — and the chooser's residual-PQ and LSH branches were
  * both predicted to behave differently there. This generator plants
  * that structure explicitly so the prediction is testable in-repo:
  *
  *  - `nClusters` centers, each a normalized spherical Gaussian draw
  *    keyed by hash(cluster, dim, salt) — deterministic, no RNG state.
  *  - each row: normalize(center(c) + sigma·s_c·noise), with noise a
  *    per-(row, dim) hashed Box–Muller Gaussian and s_c a per-cluster
  *    scale in [0.6, 1.4] (clusters of different tightness — the
  *    "per-cluster scale" part of the prescription).
  *  - cluster assignment = hash(vec_id) mod nClusters (uniform);
  *    `label` carries the planted cluster id as ground truth.
  *
  * Geometry arithmetic: E‖sigma·s·g‖² = sigma²·s²·dim around a
  * unit-norm center, so the within-cluster energy fraction is roughly
  * sigma²·s²·dim / (1 + sigma²·s²·dim) — at the default sigma=0.09,
  * dim=64 that is ~0.34 at s=1, i.e. a coarse quantizer that recovers
  * the planted clusters captures ~2/3 of the variance (vs 0.198
  * measured on the isotropic testdata). The default nClusters=600
  * sits below kc=1024 so recovery is possible, not guaranteed — the
  * quantizer still has to find the clusters.
  *
  * Everything is Spark-native expressions (hashed uniforms →
  * Box–Muller; no UDFs, no driver-side generation), so generation
  * scales to any corpus size, and the same discipline as [[ScaleUp]]:
  * value-deterministic under retries and independent of partitioning.
  *
  * Usage: sbt "Test/runMain graft.StructuredEmbeddings destDir nRows
  *          [nClusters] [sigma] [dim]"
  * writes destDir/embeddings.parquet with the driver testdata schema
  * (vec_id bigint, embedding array<float>, label int) so
  * Tables.embeddings and the registered ANN queries read it unchanged. */
object StructuredEmbeddings {

  /** A hashed uniform in (0, 1): pmod keeps it positive, the +0.5
    * keeps ln() off the endpoints. */
  private def u(seed: String): String =
    s"(pmod(xxhash64($seed), 1000003) + 0.5) / 1000003.0"

  /** Deterministic standard Gaussian from two hashed uniforms
    * (Box–Muller). `e` must be distinct per draw site. */
  private def gaussian(e: String): String =
    s"sqrt(-2.0 * ln(${u(s"$e, 1")})) * cos(2.0 * pi() * ${u(s"$e, 2")})"

  def frame(spark: SparkSession, nRows: Long, nClusters: Int = 600,
            sigma: Double = 0.09, dim: Int = 64): DataFrame = {
    require(nClusters >= 2 && dim >= 2 && sigma > 0)
    val d1 = dim - 1
    spark.range(nRows).select(col("id").as("vec_id"))
      .withColumn("__c", pmod(xxhash64(col("vec_id"), lit("cl")), lit(nClusters)).cast("int"))
      // per-cluster tightness scale in [0.6, 1.4]
      .withColumn("__s", expr(s"0.6 + 0.8 * ${u("__c, 'sc'")}"))
      .withColumn("__ctr", expr(s"transform(sequence(0, $d1), j -> ${gaussian("__c, j, 'ctr'")})"))
      .withColumn("__cn", expr("sqrt(aggregate(__ctr, 0.0d, (a, x) -> a + x * x))"))
      .withColumn("__raw", expr(
        s"transform(sequence(0, $d1), j -> __ctr[j] / __cn + " +
          s"$sigma * __s * ${gaussian("vec_id, j, 'nz'")})"))
      .withColumn("__n", expr("sqrt(aggregate(__raw, 0.0d, (a, x) -> a + x * x))"))
      .select(col("vec_id"),
        expr("transform(__raw, x -> cast(x / __n as float))").as("embedding"),
        col("__c").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val dest = args.headOption.getOrElse(sys.error("usage: StructuredEmbeddings destDir nRows [nClusters] [sigma] [dim]"))
    val nRows = args.lift(1).map(_.toLong).getOrElse(200000L)
    val nClusters = args.lift(2).map(_.toInt).getOrElse(600)
    val sigma = args.lift(3).map(_.toDouble).getOrElse(0.09)
    val dim = args.lift(4).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-structured-embeddings", cpus)
    // file count scales with rows so scans get real splits (the
    // ScaleUp discipline); repartition the range BEFORE the per-row
    // arithmetic so tasks write straight through
    val files = math.min(256, math.max(8, (nRows / 50000L).toInt))
    frame(spark, nRows, nClusters, sigma, dim)
      .repartition(files, col("vec_id"))
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    println(s"[structured] $nRows rows, $nClusters clusters, sigma=$sigma, dim=$dim -> $dest/embeddings.parquet")
    spark.stop()
  }
}
