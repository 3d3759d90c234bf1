package graft.pipeline

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-curation utilities for training pipelines: deterministic
  * content-hash splits and benchmark-contamination detection.
  *
  * Both are pure relational shapes: the split is a per-row expression
  * (no shuffle at all), contamination is one shingle equi-join where
  * the benchmark side is small enough to broadcast.
  */
object Curation {

  /** The shared engine-portable randomness source: the first 8 md5 hex
    * digits of the key's string form as a long in [0, 2^32) —
    * reproducible across runs, engines, and cluster sizes, unlike
    * rand() (and expressible in any engine with md5, which is what the
    * DuckDB oracles recompute). [[hashBucket]], `Packing.shardOf`, and
    * `Sampling.hashUniform` all derive from THIS definition so the
    * portability contract can't drift per operator. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** The [[md5Long]] portability contract at FINGERPRINT width: the
    * first 15 md5 hex digits (60 bits) as a long. 32 bits is plenty
    * for bucketing draws but collides at corpus-fingerprint scale
    * (birthday bound ~2^16 distinct keys); 15 hex digits push that to
    * ~2^30 while keeping the value inside a SIGNED 64-bit in both
    * engines (16 digits would overflow DuckDB's BIGINT parse for high
    * md5 prefixes). Used by winnowing fingerprints so the DuckDB
    * oracle recomputes them bit-for-bit. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Stable bucket in [0,100) from [[md5Long]]. */
  def hashBucket(c: Column): Column = md5Long(c) % 100

  /** Deterministic train/holdout split: rows whose key hashes below
    * `holdoutPct` go to "holdout". The same key always lands in the
    * same split — the property dataset dedup/eval hygiene needs. */
  def hashSplit(df: DataFrame, keyCol: String, holdoutPct: Int): DataFrame =
    df.withColumn("bucket", hashBucket(col(keyCol)))
      .withColumn("split",
        when(col("bucket") < holdoutPct, lit("holdout")).otherwise(lit("train")))

  /** Leakage-safe train/holdout split: [[hashSplit]] assigns each
    * DOCUMENT independently, so two near-duplicate documents can land
    * on opposite sides — the classic eval-contamination leak (the
    * holdout "unseen" text is a near-copy of a training doc). This
    * variant splits by near-dup CLUSTER: MinHash/LSH candidate pairs
    * ([[graft.dedup.Dedup.minhashCandidates]]) resolve to connected
    * components ([[graft.dedup.Dedup.survivors]] — union-find on the
    * driver for pair sets under the broadcast threshold, else
    * large-star/small-star rounds, O(log² n)), and the md5 bucket is
    * computed on the CLUSTER id, so every member of a near-dup family
    * shares a side. Singleton documents (no near-dup) hash on their
    * own id — identical to [[hashSplit]] for them. Output:
    * (idCol, survivor, bucket, split).
    *
    * Scale: candidates are a (band, key) equi-join (never all-pairs),
    * resolution touches only pair-connected ids, and the split itself
    * is a per-row expression — the whole thing is the near-dup
    * pipeline plus one join. */
  def leakageSafeSplit(corpus: DataFrame, idCol: String, textCol: String,
                       holdoutPct: Int, k: Int = 3, perms: Int = 32,
                       bands: Int = 8, threshold: Double = 0.5): DataFrame =
    leakageSafeSplitFromPairs(corpus,
      Dedup.minhashCandidates(corpus, idCol, textCol, k, perms, bands, threshold),
      idCol, holdoutPct)

  /** [[leakageSafeSplit]] with the near-dup PAIR SOURCE supplied by
    * the caller — any (doc1, doc2) frame: MinHash candidates (the
    * 100 TB default above), exact threshold Jaccard
    * ([[graft.dedup.Dedup.ngramJaccardPairsAuto]] — recall 1, and
    * relational end to end, so the whole split is oracle-checkable
    * against an independent engine), SimHash, or edit-distance pairs.
    * The cluster resolution and the bucket draw don't care where the
    * edges came from. */
  def leakageSafeSplitFromPairs(corpus: DataFrame, pairs: DataFrame,
                                idCol: String, holdoutPct: Int): DataFrame = {
    require(holdoutPct >= 0 && holdoutPct <= 100, s"holdoutPct out of range: $holdoutPct")
    val surv = Dedup.survivors(pairs, corpus.select(col(idCol)), idCol)
    surv.select(col("id").as(idCol), col("survivor"))
      .withColumn("bucket", hashBucket(col("survivor")))
      .withColumn("split",
        when(col("bucket") < holdoutPct, lit("holdout")).otherwise(lit("train")))
  }

  /** Benchmark contamination: for each corpus document, how many of its
    * k-word shingles appear verbatim in the benchmark set (the
    * training-data decontamination check). Returns (idCol, n_shingles,
    * overlap, contamination = overlap/n_shingles). Documents shorter
    * than k words produce no row (they have no shingles to match). */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 8): DataFrame = {
    // two consumers (sizes, hits) → materialize the shingle explode
    // once, through the tracked registry so a long-running pipeline
    // calling this repeatedly has a release handle (withCacheScope /
    // releaseCaches) instead of an unbounded cache leak
    // one row per (id, shingle): the rows of a repeated id are one document
    val cs = Dedup.cachedCorpus(Dedup.docShingles(corpus, idCol, textCol, k))
    // only the benchmark's TEXT matters — don't require it to carry the
    // corpus's id column
    val bs = Dedup.shingles(benchmark.select(lit(0L).as("__bid"), col(textCol)),
        "__bid", textCol, k)
      .select("shingle").distinct()
    val sizes = cs.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val hits = cs.join(broadcast(bs), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("overlap"))
    sizes.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        round(coalesce(col("overlap"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  /** Bloom of the benchmark's shingle hashes, broadcast to executors.
    *
    * Sizing uses approx_count_distinct (one pass, no distinct shuffle
    * — duplicate inserts are idempotent so only the BITS sizing needs
    * the cardinality), then [[graft.functions.GraftBloom.build]] ORs
    * per-partition bitsets in a tree; the driver holds only the final
    * bits. At fpp=1e-6, 100 M benchmark shingles is ~340 MB of bits —
    * broadcastable where the exact 100 M-row hash set is not. */
  def shingleBloom(benchmark: DataFrame, textCol: String, k: Int = 8,
                   fpp: Double = 1e-6): graft.functions.BroadcastBloom = {
    val bs = Dedup.shingles(benchmark.select(lit(0L).as("__bid"), col(textCol)),
        "__bid", textCol, k)
      .select(xxhash64(col("shingle")).as("h"))
    val n = math.max(bs.agg(approx_count_distinct("h")).first().getLong(0), 1L)
    graft.functions.GraftBloom.build(bs, "h", n, fpp)
  }

  /** [[contamination]] with the benchmark side as a broadcast Bloom
    * filter — the 100 TB decontamination shape. The exact variant
    * broadcasts the benchmark's shingle SET into a hash join; past
    * ~10 M benchmark shingles that build explodes, while the bloom
    * stays ~3.4 bytes/shingle at fpp=1e-6. The probe replaces the join
    * entirely: ONE scan of the corpus, one partially-aggregated
    * shuffle, no cache, no join — strictly fewer exchanges than the
    * exact path. `overlap` becomes an upper bound (no false negatives;
    * expected excess = probes·fpp, ~0 at any realistic fpp), so a
    * clean document is guaranteed clean. */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, k: Int = 8, fpp: Double = 1e-6): DataFrame = {
    val bloom = shingleBloom(benchmark, textCol, k, fpp)
    val hit = bloom.mightContain(xxhash64(col("shingle")))
    Dedup.shingles(corpus, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(hit, lit(1L)).otherwise(lit(0L))).as("overlap"))
      .select(col(idCol), col("n_shingles"), col("overlap"),
        round(col("overlap").cast("double") / col("n_shingles"), 4).as("contamination"))
  }

  /** [[contaminationBloom]] without even the aggregation shuffle: the
    * per-document shingle set stays an ARRAY inside the row and the
    * bloom probe runs inside higher-order functions, so the whole
    * check is a stateless per-row projection. That makes it legal in
    * Structured Streaming (no aggregation state, no watermark needed)
    * — the ingest-time decontamination gate: score documents against
    * a broadcast benchmark bloom as they arrive. Same output schema
    * and values as [[contaminationBloom]] (docs with < k words carry
    * no shingles and are dropped, matching the batch semantics). */
  def contaminationPerRow(corpus: DataFrame, bloom: graft.functions.BroadcastBloom,
                          idCol: String, textCol: String, k: Int = 8): DataFrame = {
    corpus
      .withColumn("__ws", graft.text.TextAnalysis.words(col(textCol)))
      .filter(size(col("__ws")) >= k)
      .withColumn("__sh", Dedup.shingleArray(k)) // THE shingle definition
      .select(col(idCol), size(col("__sh")).cast("long").as("n_shingles"),
        size(filter(col("__sh"), s => bloom.mightContain(xxhash64(s))))
          .cast("long").as("overlap"))
      .withColumn("contamination",
        round(col("overlap").cast("double") / col("n_shingles"), 4))
  }
}
