package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Skew-aware equi-join via key salting.
  *
  * AQE's skew-join splitting handles most skew at runtime; salting is
  * the explicit plan-level tool for the pathological case (one key =
  * 30% of 100 TB): the skewed (large) side gets a random salt in
  * [0, factor), the small side is replicated `factor` times, and the
  * join key becomes (key, salt) — the hot key's rows spread over
  * `factor` tasks instead of one straggler.
  *
  * Salt is a content hash of the large side's row, so the same row
  * always lands in the same salt bucket: task retries and
  * recomputations reproduce identical partition contents, unlike a
  * positional monotonically_increasing_id salt which reshuffles
  * whenever Spark re-splits the input.
  *
  * Two content-hash caveats (pass `saltCol` to defuse both): (1) fully
  * IDENTICAL duplicate rows share one salt, so a hot key consisting of
  * repeated identical rows is NOT split — name a unique id column and
  * the salt is its hash instead; (2) xxhash64 rejects unhashable
  * column types (e.g. map) at analysis — again, hash the named id
  * column only. Without duplicates/maps the default (all columns) is
  * fine: the skew being treated lives on the join KEY, whose rows
  * differ in their payload columns.
  */
object SkewJoin {

  /** Deterministic salt for a `large`-side row: hash of `saltCol` when
    * named (unique ids split identical-payload duplicates and dodge
    * unhashable column types), else hash of every column. */
  private def saltExpr(large: DataFrame, saltCol: Option[String], factor: Int): Column = {
    val basis = saltCol match {
      case Some(c) =>
        require(large.columns.contains(c), s"saltCol $c not in large side")
        IndexedSeq(col(c))
      case None => large.columns.map(col).toIndexedSeq
    }
    pmod(xxhash64(basis: _*), lit(factor)).cast("int")
  }

  private def integralKey(df: DataFrame, key: String): Boolean =
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** `key * factor + salt` as ONE long — injective for |key| below
    * Long.MaxValue/factor (guarded: out-of-range keys raise, never
    * silently collide; null keys stay null so outer joins keep their
    * rows unmatched, exactly like a plain equi-join). */
  private def fusedKey(key: String, salt: Column, factor: Int): Column = {
    val k = col(key).cast("long")
    val lim = Long.MaxValue / factor - 1
    when(k.isNull, lit(null).cast("long"))
      .when(k.between(-lim, lim), k * factor + salt)
      .otherwise(raise_error(concat(
        lit(s"saltedJoin: $key out of fusable range for factor=$factor: "),
        k.cast("string"))))
  }

  /** The salted join itself. Measured at sf10 (BENCH_skew_ab_r7.json,
    * 3 iters, same-session): joining on the two-column (key, __salt)
    * pair costs ~8.5 s where the plain join is ~2.4 s — the composite
    * key demotes the broadcast hash table from the codegen'd long-key
    * LongHashedRelation to the generic UnsafeHashedRelation. Fusing
    * (key, salt) into the single long `key*factor + salt` restores the
    * fast path: 2.4–3.2 s, ≈1.2× plain. So for integral keys we join
    * on the fused long; non-integral keys (strings hash through
    * UnsafeHashedRelation either way — nothing to win) keep the
    * two-column form. */
  private def joinSalted(large: DataFrame, small: DataFrame, key: String,
                         factor: Int, joinType: String,
                         largeSalt: Column, smallSalts: Column): DataFrame = {
    if (integralKey(large, key) && integralKey(small, key)) {
      val salted = large.withColumn("__kx", fusedKey(key, largeSalt, factor))
      val replicated = small
        .withColumn("__s", explode(smallSalts))
        .withColumn("__kx", fusedKey(key, col("__s"), factor))
        .drop(key).drop("__s")
      val out = salted.join(replicated, Seq("__kx"), joinType).drop("__kx")
      // restore the using-columns convention (key leads the output)
      out.select((key +: out.columns.filterNot(_ == key)).map(col).toIndexedSeq: _*)
    } else {
      val salted = large.withColumn("__salt", largeSalt)
      val replicated = small.withColumn("__salt", explode(smallSalts))
      salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
    }
  }

  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 factor: Int = 8, joinType: String = "inner",
                 saltCol: Option[String] = None): DataFrame = {
    // right/full outer would emit null-padded rows for replicated
    // small-side copies whose salt found no partner — semantically wrong
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "left_anti", "leftanti", "cross").contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left-side join types, got $joinType")
    joinSalted(large, small, key, factor, joinType,
      saltExpr(large, saltCol, factor),
      sequence(lit(0), lit(factor - 1)))
  }

  /** [[saltedJoin]] restricted to the keys that are actually hot —
    * the shape that survives scale. Full salting replicates the ENTIRE
    * small side ×factor, which at a 100×-bigger dimension table both
    * multiplies the replicated volume and pushes the join past the
    * broadcast threshold (measured at sf10: full-salt 19.5 s vs 2.0 s
    * plain — the salt cost ate the broadcast). Here a seeded sample
    * finds keys above `hotShare` of the stream; ONLY their rows take
    * the salted two-sided path (the replicated hot slice of the small
    * side is a handful of rows), everything else joins plain —
    * broadcast preserved, stragglers split, identical output. With no
    * hot key detected this IS the plain join.
    *
    * Detection cost: round 6 measured the original `sample(fraction)`
    * detection as a FULL scan of the fact table's key column (Bernoulli
    * sampling decompresses every page to keep 1%). Detection now takes
    * the first `sampleFraction`-derived slice of EVERY partition via a
    * lazy `take` — each task reads only its leading pages, all
    * partitions contribute (full parallelism, no single-task funnel),
    * and the scanned volume is bounded by partitions × perPartRows
    * regardless of table size. A globally-hot key (the case salting
    * exists for) appears throughout every partition, so a leading
    * slice estimates its share unbiasedly; skew confined to the tail
    * of specific partitions is AQE's job, not this operator's. */
  def saltedJoinAuto(large: DataFrame, small: DataFrame, key: String,
                     factor: Int = 8, hotShare: Double = 0.05,
                     sampleFraction: Double = 0.01,
                     joinType: String = "inner",
                     saltCol: Option[String] = None): DataFrame = {
    // same restriction as saltedJoin: replicated small-side copies
    // whose salt finds no partner would null-pad right/full outers
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "left_anti", "leftanti", "cross").contains(joinType.toLowerCase),
      s"saltedJoinAuto supports inner/left-side join types, got $joinType")
    require(hotShare > 0 && hotShare <= 1, s"hotShare out of range: $hotShare")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction out of range: $sampleFraction")
    val spark = large.sparkSession
    // leading-slice size per partition: sampleFraction of a nominal
    // 2^22-row partition, floored so tiny fractions still see data
    val perPart = math.max(1024, (sampleFraction * (1 << 22)).toInt)
    val keyOnly = large.select(col(key))
    val slicedRdd = keyOnly.rdd.mapPartitions(_.take(perPart))
    // persist the aggregated sample (|distinct sampled keys| rows —
    // far smaller than the input) so the total and the hot-key filter
    // don't each re-read the leading slices
    val sampled = spark.createDataFrame(slicedRdd, keyOnly.schema)
      .groupBy(key).agg(count(lit(1)).as("__c"))
      .persist()
    val hotKeys = try {
      val rows = sampled.agg(sum("__c")).first()
      val total = if (rows.isNullAt(0)) 0L else rows.getLong(0)
      // a key must exceed hotShare of sampled rows → at most 1/hotShare
      // hot keys exist; the collect is bounded and driver-tiny
      if (total == 0) Array.empty[Any]
      else sampled.filter(col("__c") > lit(hotShare * total))
        .select(key).collect().map(_.get(0))
    } finally sampled.unpersist()
    if (hotKeys.isEmpty) large.join(small, Seq(key), joinType)
    else {
      // conditional salt, SINGLE join: hot rows get a real salt and
      // the small side replicates only its hot keys ×factor (cold rows
      // join on salt 0 with the one unreplicated copy). One scan of
      // the large side, and the small side grows by just
      // |hot keys|·factor rows — the broadcast survives.
      val isHot = col(key).isin(hotKeys.toIndexedSeq: _*)
      joinSalted(large, small, key, factor, joinType,
        when(isHot, saltExpr(large, saltCol, factor)).otherwise(lit(0)),
        when(isHot, sequence(lit(0), lit(factor - 1))).otherwise(array(lit(0))))
    }
  }
}
