package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for dataset curation.
  *
  * `rand()`-based sampling is unusable for training-data work: reruns
  * pick different rows, so ablations and holdouts aren't reproducible
  * and no oracle can check them. Every sampler here derives its
  * randomness from the md5 of the row's id — the same row is chosen by
  * every run, every engine (the DuckDB oracles recompute the identical
  * arithmetic), and every cluster size.
  *
  *  - [[hashUniform]] — U(0,1] from the first 8 md5 hex digits.
  *  - [[stratified]] — exactly n rows per stratum, the md5-smallest n.
  *  - [[weighted]] — k rows without replacement, inclusion probability
  *    ∝ weight (Efraimidis–Spirakis A-ES keys: u^(1/w), equivalently
  *    ln(u)/w, computed on the stable uniform).
  *
  * Scale: [[stratified]] is one hash exchange on the stratum key and a
  * per-stratum rank — Spark's WindowGroupLimit pushes the rank ≤ n
  * filter into a partial top-n BEFORE the exchange, so the shuffle
  * carries ~n·strata rows, not the corpus. [[weighted]] is a global
  * top-k = TakeOrderedAndProject: per-partition heaps of k, driver
  * merges k·partitions entries — no global sort ever materializes.
  */
object Sampling {

  /** Stable uniform in (0,1] from [[Curation.md5Long]] — 32 bits of
    * hash, so ~4e9 distinct values. */
  def hashUniform(c: Column): Column =
    (Curation.md5Long(c).cast("double") + 1.0) / 4294967296.0

  /** Exactly min(n, |stratum|) rows per stratum: the n smallest md5
    * draws, rank exposed as `rn`. Deterministic and reproducible. */
  def stratified(df: DataFrame, strataCol: String, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = Window.partitionBy(strataCol).orderBy(hashUniform(col(idCol)), col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Deterministic dataset-mixture resampling: keep a row iff its md5
    * bucket falls under its group's percentage (default `defaultPct`
    * for groups not listed). The standard curation move for
    * rebalancing a training mix ("keep 100% of low-resource
    * languages, 40% of English") — per-row expression, NO shuffle, NO
    * rand(): the same document survives in every rerun, so downstream
    * dedup/eval splits stay stable. */
  def mixture(df: DataFrame, groupCol: String, idCol: String,
              pctByGroup: Map[String, Int], defaultPct: Int): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100, s"defaultPct out of range: $defaultPct")
    pctByGroup.values.foreach(p =>
      require(p >= 0 && p <= 100, s"pct out of range: $p"))
    val bucket = Curation.hashBucket(col(idCol))
    val pct = pctByGroup.foldLeft(lit(defaultPct)) { case (acc, (g, p)) =>
      when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.filter(bucket < pct)
  }

  /** Token-budget mixture: [[mixture]] rebalances by DOCUMENT counts,
    * but training mixes are specified in TOKENS — a group of long
    * documents at the same keep-% contributes far more mass. This
    * variant computes each group's keep-rate from its actual mass:
    * rate_g = min(1, share_g · budget / mass_g), where mass_g is one
    * hash aggregation over `massCol` (token counts, chars, bytes …)
    * joined back broadcast (groups are few), and a row survives iff
    * its md5 draw falls under the rate — per-row, deterministic,
    * engine-portable like every sampler here. Groups not in
    * `shareByGroup` get `defaultShare`. The rate is rounded to 6
    * decimals BEFORE the threshold compare so the cut is identical in
    * any engine. Output: input columns + keep_rate.
    *
    * The draw is SALTED ("mixmass:" ++ id) so it is independent of the
    * other md5(id) samplers: an unsalted draw would make a keep-rate
    * 0.2 pass select exactly the holdoutPct=20 rows of
    * [[Curation.hashSplit]] in a composed pipeline — perfectly
    * correlated selections instead of an unbiased subsample.
    *
    * Scale: one tiny group aggregate + broadcast join + filter — the
    * corpus is scanned once and never shuffled. */
  def mixtureByMass(df: DataFrame, groupCol: String, idCol: String, massCol: String,
                    shareByGroup: Map[String, Double], budget: Long,
                    defaultShare: Double = 0.0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    (shareByGroup.values ++ Seq(defaultShare)).foreach(s =>
      require(s >= 0 && s <= 1, s"share out of range: $s"))
    val share = shareByGroup.foldLeft(lit(defaultShare)) { case (acc, (g, s)) =>
      when(col(groupCol) === g, lit(s)).otherwise(acc)
    }
    val rates = df.groupBy(col(groupCol))
      .agg(sum(col(massCol).cast("double")).as("__mass"))
      .filter(col("__mass") > 0)
      .select(col(groupCol),
        round(least(lit(1.0), share * budget / col("__mass")), 6).as("keep_rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(Curation.md5Long(concat(lit("mixmass:"), col(idCol).cast("string"))) <
        floor(col("keep_rate") * 4294967296.0).cast("long"))
  }

  /** k-sample without replacement, P(pick) ∝ `weightCol` (must be > 0):
    * keep the k largest Efraimidis–Spirakis keys ln(u)/w. The key is
    * rounded BEFORE the ordering (ties broken on the id) so the k-cut
    * itself is engine-portable — ln differs in the last ulp between
    * libm implementations, and a raw-key order could flip the boundary
    * row against the oracle. */
  def weighted(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.filter(col(weightCol) > 0)
      .withColumn("es_key", round(log(hashUniform(col(idCol))) / col(weightCol), 6))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic global training-order shuffle: appends `pos`, the
    * row's 0-based position in (md5("<salt>:"+id), id) order. The
    * epoch's data order is THE reproducibility-critical output of a
    * curation pipeline — `orderBy(rand())` changes on every retry and
    * every engine; a hash order is a pure function of the ids. `salt`
    * is the epoch/seed knob: each salt is an independent permutation.
    * Runs as [[graft.operators.GlobalOrder.withHeadRankFlagged]] — a
    * parallel range-sort with O(partitions) driver bytes, NO global
    * window — and (key, id) is unique per row, so the head rank IS
    * the row position. */
  def shuffleOrder(df: DataFrame, idCol: String, salt: String = "shuffle"): DataFrame = {
    val key = Curation.md5Long(concat(lit(salt + ":"), col(idCol).cast("string")))
    graft.operators.GlobalOrder.withHeadRankFlagged(df, Nil, Seq(key, col(idCol)), "pos", "__amb")
      .drop("__amb")
  }
}
