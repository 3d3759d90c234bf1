package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication family for corpus pipelines (SURVEY.md §2 #40–43):
  * exact (content hash), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale shapes:
  *  - exact: one hash aggregation on md5(content) — pure shuffle-by-key.
  *  - n-gram Jaccard: shingle explode → equi-join on shingle → pair
  *    count. Quadratic only within identical-shingle groups; at 100 TB
  *    run it AFTER MinHash banding restricts the candidate set.
  *  - MinHash/LSH: signatures are per-row expressions; banding turns
  *    candidate generation into an equi-join on (band, bandHash) — the
  *    canonical web-scale near-dup design (cf. Broder '97). The banded
  *    and MinHash operators read ONE cached per-document projection
  *    (id, shingle array, size, signature): under AQE, Spark 4.1 never
  *    reuses an exchange above a cached or checkpointed leaf
  *    (PlanAuditSpec pins it), so an aggregate over an exploded
  *    shingle cache re-ran its shuffle in every plan branch.
  *  - clusters: [[survivors]] materializes the pairs once, resolves up
  *    to `spark.sql.autoBroadcastJoinThreshold` / 128 B edges with
  *    union-find on the driver, and larger graphs with
  *    large-star/small-star rounds (O(log² n), exact exit test).
  *  - SimHash: per-row 64-bit signature; near-dups collide on rotated
  *    band keys (Charikar '02 / Manku et al. WWW'07 style blocking).
  */
object Dedup {

  // Shingle/signature caches are consumed by the LAZY plans these
  // operators return, so they cannot be unpersisted before the caller
  // materializes the result. Each one is tracked STRONGLY here (a weak
  // entry would vanish whenever GC collected the Dataset wrapper —
  // Spark's CacheManager retains only the logical plan — turning the
  // tracked cache back into the nondeterministic leak this registry
  // exists to fix), tagged with the innermost [[withCacheScope]] on
  // the constructing thread (0 = unscoped).
  private final case class Tracked(df: DataFrame, scope: Long)
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Tracked]
  private val scopeIds = new java.util.concurrent.atomic.AtomicLong()
  private val currentScope = ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.Long]](
    () => new java.util.ArrayDeque[java.lang.Long]())
  // strong refs would otherwise grow without bound for callers that
  // never scope/release; caches are recomputable, so evicting the
  // oldest UNSCOPED entry past this cap is safe (scoped entries have a
  // guaranteed release point and are never evicted early)
  private val MaxUnscoped = 64
  private[graft] def cached(df: DataFrame): DataFrame =
    cached(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** StorageLevel for CORPUS-SCALE tracked caches (positional-shingle
    * frames, shingle explodes, suffix token arrays — entries that are
    * themselves a multiple of the input). Default MEMORY_AND_DISK
    * (Spark's Dataset default: memory-speed while it fits, graceful
    * per-block disk spill when it doesn't — proven at sf10 under a
    * deliberately small 16 g heap, zero errors). Tune with
    * `spark.graft.corpusCacheLevel` (e.g. MEMORY_AND_DISK_SER to trade
    * CPU for ~2-4× less storage footprint, DISK_ONLY to keep executor
    * memory entirely for execution); recomputing instead of caching is
    * NOT the trade to take — both consumers of these frames re-run the
    * tokenize+explode scan, the most expensive narrow stage in the
    * pipeline. */
  private[graft] def corpusCacheLevel(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      spark.conf.get("spark.graft.corpusCacheLevel", "MEMORY_AND_DISK"))

  /** [[cached]] at the corpus-scale policy level. */
  private[graft] def cachedCorpus(df: DataFrame): DataFrame =
    cached(df, corpusCacheLevel(df.sparkSession))

  /** Storage levels of all live tracked entries — spec hook. */
  private[graft] def trackedStorageLevels: Seq[org.apache.spark.storage.StorageLevel] =
    tracked.synchronized(tracked.map(_.df.storageLevel).toSeq)

  private[graft] def cached(df: DataFrame,
                            level: org.apache.spark.storage.StorageLevel): DataFrame = {
    df.persist(level)
    val sc = Option(currentScope.get().peek()).map(_.longValue).getOrElse(0L)
    tracked.synchronized {
      if (sc == 0L && tracked.count(_.scope == 0L) >= MaxUnscoped) {
        val i = tracked.indexWhere(_.scope == 0L)
        tracked(i).df.unpersist()
        tracked.remove(i)
      }
      tracked += Tracked(df, sc)
    }
    df
  }

  /** Run `f` in a cache scope: intermediate caches created by Dedup
    * operators ON THIS THREAD inside `f` are unpersisted when `f`
    * returns — and ONLY those, so a concurrent caller's shingle cache
    * (already paid for, not yet materialized) is never yanked by
    * someone else's cleanup. Materialize results inside `f` (an eager
    * localCheckpoint suffices); plans escaping un-materialized stay
    * correct and recompute. */
  def withCacheScope[T](f: => T): T = {
    val id = scopeIds.incrementAndGet()
    currentScope.get().push(id)
    try f
    finally {
      currentScope.get().pop()
      tracked.synchronized {
        val (mine, rest) = tracked.partition(_.scope == id)
        mine.foreach(_.df.unpersist())
        tracked.clear()
        tracked ++= rest
      }
    }
  }

  /** Unpersist every intermediate cache a Dedup operator has created in
    * this JVM (JVM-wide: spans sessions and scopes). Safe at any time —
    * plans that still reference a released cache recompute it. Prefer
    * [[withCacheScope]] when other Dedup users may be active. */
  def releaseCaches(): Unit = tracked.synchronized {
    tracked.foreach(_.df.unpersist())
    tracked.clear()
  }

  /** Unpersist + untrack ONE tracked frame — for operators that can
    * prove the frame is consumed before they return (everything the
    * returned plan needs is materialized), so the cache doesn't
    * outlive the call and accumulate across repeated library use. */
  private[graft] def untrack(df: DataFrame): Unit = tracked.synchronized {
    val i = tracked.indexWhere(_.df eq df)
    if (i >= 0) { tracked(i).df.unpersist(); tracked.remove(i) }
  }

  // one tokenizer for the whole library — shingling equality across
  // modules (contaminationPerRow vs contaminationBloom) depends on it
  private def words(text: org.apache.spark.sql.Column) =
    graft.text.TextAnalysis.words(text)

  /** Exact dedup map: content hash → surviving id + duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** Distinct k-shingle ARRAY over a word-array column named `__ws` —
    * the one definition of shingling; [[shingles]] explodes it and
    * `Curation.contaminationPerRow` keeps it in-row, so the two can
    * never drift apart (their equality is spec-pinned). */
  private[graft] def shingleArray(k: Int): org.apache.spark.sql.Column =
    array_distinct(expr(
      s"transform(sequence(1, size(__ws) - ${k - 1}), i -> concat_ws(' ', slice(__ws, i, $k)))"))

  /** Positional k-word shingles (NOT distinct — every occurrence keeps
    * its token offset): the input to span-level duplicate detection. */
  private[graft] def positionalShingleArray(k: Int): org.apache.spark.sql.Column =
    expr(s"transform(sequence(1, size(__ws) - ${k - 1}), i -> concat_ws(' ', slice(__ws, i, $k)))")

  /** Exact duplicate-substring spans (the Lee et al. 2022
    * "Deduplicating Training Data" signal, span-resolved): for every
    * document, the token ranges covered by some k-gram occurring ≥
    * `minCount` times ACROSS THE CORPUS (a doc repeating its own
    * phrase counts too). Output: (idCol, n_tokens, dup_tokens,
    * n_spans, dup_fraction) for documents with at least one
    * duplicated span — the per-doc signal a substring-dedup pass cuts
    * or filters on.
    *
    * Fully relational, so it scales and oracles: positional shingles
    * explode → ONE hash aggregation finds k-grams with count ≥
    * minCount (map-side combinable; the join back is shingle-keyed,
    * AQE broadcasts when the duplicate set is small) → per-doc
    * gaps-and-islands window merges overlapping [pos, pos+k-1]
    * intervals (same-island iff the position gap ≤ k) — one window
    * partitioned by doc, never global. The shuffle key for the
    * frequency pass is xxhash64(shingle), so the exchange carries 8
    * bytes per occurrence, not the k-word string. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 50, minCount: Long = 2L): DataFrame =
    duplicateSpanRanges(df, idCol, textCol, k, minCount)
      .groupBy(col(idCol), col("n_tokens"))
      .agg(sum(col("__end") - col("__start") + 1).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4))

  /** [[duplicateSpans]]' actionable form: the duplicated token ranges
    * are CUT from the text (the Lee et al. substring-dedup transform).
    * Documents with no duplicated span pass through verbatim;
    * documents losing tokens are re-joined with single spaces
    * (whitespace inside removed/kept runs is normalized — the
    * tokenizer boundary is the unit of surgery, as in the reference
    * implementation). Output: (idCol, text, n_removed).
    *
    * Shape: [[duplicateSpans]]' relational pipeline up to the island
    * merge, spans collected per doc (a handful of (start, end)
    * structs — bounded by n_tokens/k), one broadcast-friendly left
    * join back, and the cut itself is an indexed higher-order filter —
    * per-row expression work, no extra shuffle beyond the span
    * pipeline's. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 50, minCount: Long = 2L): DataFrame = {
    val spans = duplicateSpanRanges(df, idCol, textCol, k, minCount)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__start"), col("__end"))).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__ws", words(col(textCol)))
      .select(col(idCol),
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            filter(col("__ws"), (w, i) =>
              !exists(col("__spans"), s =>
                i >= s.getField("__start") && i <= s.getField("__end")))))
          .as(textCol),
        coalesce(aggregate(col("__spans"),
            lit(0L), (acc, s) => acc + s.getField("__end") - s.getField("__start") + 1L),
          lit(0L)).as("n_removed"))
  }

  /** Bloom of the corpus' DUPLICATED k-gram hashes (corpus count ≥ 2)
    * — the epoch artifact for ingest-time span-dedup. Built like
    * [[duplicateSpans]]' frequency pass (one positional-gram hash
    * aggregation, map-side combinable), then the surviving hashes fold
    * into a [[graft.functions.GraftBloom]] broadcast: at fpp=1e-8 a
    * billion duplicated grams is ~4.8 GB of bits where the exact hash
    * set would not broadcast at all. Refresh per epoch/compaction —
    * the standard "batch-maintained dup-set" streaming composition. */
  def duplicatedGramBloom(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, fpp: Double = 1e-8): graft.functions.BroadcastBloom = {
    val dup = cached(graft.Parallelism.spread(df, 8) // k-gram explode + hash:
      // ~k× the input bytes of generated rows per doc (work-aware gate)
      .select(words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= k)
      .select(explode(positionalShingleArray(k)).as("__g"))
      .select(xxhash64(col("__g")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("h"))
    val n = math.max(dup.count(), 1L)
    graft.functions.GraftBloom.build(dup, "h", n, fpp)
  }

  /** Stateless per-row duplicate-span statistics against an epoch
    * bloom of duplicated gram hashes ([[duplicatedGramBloom]]): every
    * document is scored IN THE ROW — positional grams, bloom probes,
    * and the gaps-and-islands interval merge all run inside
    * higher-order expressions, so the operator is a pure projection:
    * no join, no aggregation, no state — legal anywhere in a streaming
    * query (the span-dedup ingest gate) and free at 100 TB (it rides
    * the scan). Output: (idCol, n_tokens, dup_tokens, n_spans,
    * dup_fraction) for every doc with ≥ k tokens (0/0/0.0 when clean —
    * a gate filters on dup_fraction). Against the SAME corpus the
    * bloom was built from, rows with dup_fraction > 0 match
    * [[duplicateSpans]] exactly up to bloom false positives
    * (~probes·fpp, spec-pinned equal at fixture scale). */
  def spanStatsPerRow(docs: DataFrame, bloom: graft.functions.BroadcastBloom,
                      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    // flagged window starts, ascending; then one in-row fold merges
    // [i, i+k-1] coverage: cnt += newEnd - max(lastEnd, i-1), span++ on
    // a gap (i > lastEnd + 1)
    val starts = filter(
      transform(positionalShingleArray(k),
        (g, i) => when(bloom.mightContain(xxhash64(g)), i).otherwise(lit(-1))),
      x => x >= 0)
    // le starts at -2 so the very first start (possibly pos 0, i.e.
    // le+1) still opens a span; greatest(le, i-1) stays correct
    val folded = aggregate(starts,
      struct(lit(0L).as("cnt"), lit(0L).as("sp"), lit(-2L).as("le")),
      (a, i) => struct(
        (a.getField("cnt") + (i + lit(k - 1)).cast("long") -
          greatest(a.getField("le"), (i - 1).cast("long"))).as("cnt"),
        (a.getField("sp") +
          when(i.cast("long") > a.getField("le") + 1L, lit(1L)).otherwise(lit(0L))).as("sp"),
        (i + lit(k - 1)).cast("long").as("le")))
    graft.Parallelism.spread(docs, 8) // per-row gram + probe + fold work
      // is ~10× a plain explode per input byte; without the spread the
      // whole scoring pass rides the scan's (possibly single) split
      .withColumn("__ws", words(col(textCol)))
      .filter(size(col("__ws")) >= k)
      .withColumn("__agg", folded)
      // PUSHDOWN BARRIER (guide §4.4's duplication, the built-in-HOF
      // analogue of the nondeterministic-UDF fix): consumers filter on
      // these outputs (every gate keeps dup_fraction > 0), and Catalyst
      // rewrites such a filter over the whole fold above and pushes it
      // below every deterministic node INCLUDING the spread exchange —
      // the operator's most expensive per-row kernel then evaluates
      // once more inside a filter GLUED TO THE SCAN's split count
      // (measured at sf0.1: the full corpus re-scored in a 3.7 s
      // ONE-task scan-stage filter while the 32-way scoring stage
      // idled). `+ cast(rand()·0.0 as long)` adds exactly 0 — but
      // double×0 is not constant-foldable (NaN semantics) and rand()
      // marks the column nondeterministic, so the rewritten filter
      // cannot be pushed at all and the fold runs once, above the
      // spread. At real SFs the spread is a no-op and the filter stays
      // in the scan stage as before, minus the duplicate evaluation.
      .select(col(idCol), size(col("__ws")).cast("long").as("n_tokens"),
        (col("__agg.cnt") + (rand() * lit(0.0)).cast("long")).as("dup_tokens"),
        col("__agg.sp").as("n_spans"))
      .withColumn("dup_fraction",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4))
  }

  /** (id, __start, __end) merged duplicated-token intervals —
    * the shared core of [[duplicateSpans]] and
    * [[removeDuplicateSpans]]. Positions are 0-based token offsets,
    * both ends inclusive. */
  private def duplicateSpanRanges(df: DataFrame, idCol: String, textCol: String,
                                  k: Int, minCount: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // TWO independent 64-bit hashes, not one: "duplicate" decided on a
    // single xxhash64 would mark two distinct once-seen k-grams as
    // duplicates on a 64-bit collision — expected at the multi-billion-
    // shingle scale this targets — and removeDuplicateSpans would then
    // silently cut unique text. A 128-bit key puts P(any collision) at
    // ~n²/2^129 (≈1e-20 at 4e9 shingles) while the exchange still
    // carries 16 bytes per occurrence, not the k-word string.
    // Cached (tracked registry): the tokenize+explode scan feeds both
    // the frequency aggregate and the join probe.
    val posed = cachedCorpus(graft.Parallelism.spread(df)
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= k)
      .select(col(idCol), size(col("__ws")).cast("long").as("n_tokens"),
        posexplode(positionalShingleArray(k)).as(Seq("pos", "sh")))
      .select(col(idCol), col("n_tokens"), col("pos"),
        xxhash64(col("sh")).as("h"), xxhash64(lit("g2"), col("sh")).as("h2")))
    val dup = posed.groupBy("h", "h2").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("h", "h2")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("pos")
    posed.join(dup, Seq("h", "h2"))
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("__isl", sum("__brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("n_tokens"), col("__isl"))
      .agg(min("pos").cast("long").as("__start"),
        (max("pos") + k - 1).cast("long").as("__end"))
  }

  /** Distinct k-word shingles per doc: (id, shingle) rows. The explode
    * is the CPU-heavy narrow stage of every dedup composition, so the
    * input is spread across the session's cores when the scan supplies
    * too few splits ([[graft.Parallelism.spread]]). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    // deliberately the DEFAULT spread gate (no work hint): a hinted
    // spread of this cache was measured-and-REJECTED in r19 — the
    // banded/minhash consumers run many small aggregation stages over
    // the cache, and 32-way partitions at a 580 KB corpus cost more in
    // per-stage task overhead than the explode parallelism bought
    // (interleaved fresh-JVM A-B ×3: q_dedup_ngram_banded 2.75→2.90 s
    // min and q_split_leakage_safe 4.12→5.24 s min, B losing all
    // pairs, while the direct-join consumer's win is captured by the
    // join-layout pin in directFromShingles instead)
    graft.Parallelism.spread(df).withColumn("__ws", words(col(textCol)))
      .filter(size(col("__ws")) >= k)
      .select(col(idCol), explode(shingleArray(k)).as("shingle"))

  /** [[shingles]] with one (id, shingle) row per id however many rows
    * the id sits on: the union of an id's rows is one document, as in
    * [[ngramJaccardPairsBanded]]. The exact paths count and intersect
    * these rows, so a repeated row would count a shingle twice. The
    * frame is hash-partitioned by id, so the per-id counts above it
    * need no exchange of their own. */
  private[graft] def docShingles(df: DataFrame, idCol: String, textCol: String,
                                 k: Int): DataFrame =
    shingles(df, idCol, textCol, k).repartition(col(idCol)).distinct()

  /** Exact n-gram Jaccard pairs >= threshold (id1 < id2), via
    * positional prefix filtering (the AllPairs/PPJoin principle,
    * Bayardo WWW'07 / Xiao WWW'08): under any global shingle order, a
    * pair with J >= t must share a shingle inside each side's prefix of
    * length n − ⌈t·n⌉ + 1. Ordering rarest-first puts the frequent
    * shingles — the quadratic blowup — in suffixes that never join;
    * candidates are then verified with full-set intersection counts, so
    * the result is EXACT, only the fan-out shrinks. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, threshold: Double = 0.2): DataFrame =
    // cache lifetime: the shingle frame feeds sizes/prefix/verify
    // subtrees of the RETURNED lazy plan, so it cannot be unpersisted
    // here; reclaim after materializing via releaseCaches() (or LRU
    // eviction / spark.catalog.clearCache(), as the bench harness does)
    prefixFromShingles(cached(docShingles(df, idCol, textCol, k)), idCol, threshold)

  private[dedup] def prefixFromShingles(sh: DataFrame, idCol: String,
                                        threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    // global rarest-first order = (document frequency, shingle); both
    // df and the per-doc size/rank come from windows — the doc-keyed
    // count and row_number share ONE shuffle+sort, so the prefix frame
    // costs two exchanges total instead of two aggregations plus two
    // joins back
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__df"), col("shingle"))
    val prefix = sh.withColumn("__df", count(lit(1)).over(wDf))
      .withColumn("__n", count(lit(1)).over(wDoc))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= col("__n") - ceil(col("__n") * lit(threshold)) + 1)
      .select(col(idCol), col("shingle"))
    val cands = prefix.select(col(idCol).as("doc1"), col("shingle"))
      .join(prefix.select(col(idCol).as("doc2"), col("shingle")), Seq("shingle"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    // exact verify: intersection over the FULL shingle sets
    val inter = cands
      .join(sh.select(col(idCol).as("doc1"), col("shingle")), Seq("doc1"))
      .join(sh.select(col(idCol).as("doc2"), col("shingle")), Seq("doc2", "shingle"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
    jaccardFromIntersections(inter, sizes, idCol, threshold)
  }

  /** Shared verify tail: (doc1, doc2, inter) + per-doc shingle counts →
    * exact Jaccard, thresholded. */
  private def jaccardFromIntersections(inter: DataFrame, sizes: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    inter
      .join(sizes.select(col(idCol).as("doc1"), col("n").as("n1")), Seq("doc1"))
      .join(sizes.select(col(idCol).as("doc2"), col("n").as("n2")), Seq("doc2"))
      .withColumn("jaccard", col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))

  /** Direct shingle self-join — O(Σ group²) fan-out on frequent
    * shingles: on a Zipfian corpus the common shingles ("of the") put
    * quadratic work on a few shuffle keys. Kept as the simple exact
    * formulation and the oracle cross-check; the registered scale path
    * is `ngramJaccardPairsBanded`. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.2): DataFrame =
    directFromShingles(cached(docShingles(df, idCol, textCol, k)), idCol, threshold)

  private[dedup] def directFromShingles(sh: DataFrame, idCol: String,
                                        threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    // JOIN-LAYOUT PIN (guide §2 partition-by-work; r18 verdict item 2):
    // the meeting stream (Σ per-shingle df² rows) materializes INSIDE
    // this self-join, invisible to AQE's byte-based coalescing — at
    // small SF the whole pair computation folded into ONE task (r19
    // census: a 1.5 s single-task join stage behind a 580 KB corpus).
    // A user numPartitions repartition is never coalesced, both join
    // branches read the SAME exchange (ReusedExchange), and the join
    // reuses the co-partitioning — so the plan pays the one exchange
    // it always paid, at a pinned width. (A dictionary-encoded join
    // key pays a second, id-keyed exchange on top of this one: measured
    // 1.31×/1.73× slower at sf10 and removed, BENCH_ngram_dict_r19.json.)
    val shufP = sh.sparkSession.sessionState.conf.numShufflePartitions
    val byShingle = sh.repartition(shufP, col("shingle"))
    val a = byShingle.select(col(idCol).as("doc1"), col("shingle"))
    val b = byShingle.select(col(idCol).as("doc2"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
    jaccardFromIntersections(inter, sizes, idCol, threshold)
  }

  /** THE per-document projection of the banded and MinHash operators:
    * one row per id — `(id, __sh, __n, sig)` with `__sh` the distinct
    * k-shingle array, `__n` its size and `sig` the [[graft.functions
    * .MinHashSig]] kernel over it — tracked and cached, so tokenizing,
    * shingling and MinHash run ONCE per document however many plan
    * branches read it (no aggregate above the cache: see the AQE reuse
    * gap in the object Scaladoc). Rows sharing an id are merged first
    * and their shingle arrays unioned; the signature is bit-identical
    * to an explode + per-permutation `min` aggregate over the union
    * (TextDedupSpec). */
  private def docSignatures(df: DataFrame, idCol: String, textCol: String,
                            k: Int, perms: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    cachedCorpus(graft.Parallelism.spread(df).withColumn("__ws", words(col(textCol)))
      .filter(size(col("__ws")) >= k)
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(shingleArray(k)))).as("__sh"))
      .select(col(idCol), col("__sh"), size(col("__sh")).cast("long").as("__n"),
        graft.functions.GraftFunctions.minhashSig(col("__sh"), perms).as("sig")))
  }

  /** The 100 TB n-gram Jaccard composition: MinHash banding generates
    * the candidate pairs (equi-join on (band, bandHash) — fan-out is
    * bounded by band-bucket sizes, immune to frequent-shingle skew),
    * then an EXACT intersection of the two shingle arrays verifies
    * each candidate, so every emitted pair carries its true Jaccard.
    * Recall: a pair with Jaccard J misses all bands w.p.
    * (1 − J^(perms/bands))^bands — with the 2-row/32-band default,
    * < 1e-14 at J = 0.8 — so for genuine near-dup corpora (qualifying
    * pairs are high-J) the output equals the direct join's. Candidates
    * and verification both read the one [[docSignatures]] projection:
    * no shingle explode, no aggregate, no shingle-keyed join. */
  def ngramJaccardPairsBanded(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, threshold: Double = 0.2,
                              perms: Int = 64, bands: Int = 32): DataFrame = {
    val docs = docSignatures(df, idCol, textCol, k, perms)
    def side(d: String) = docs.select(col(idCol).as(d), col("__sh").as(s"__sh_$d"),
      col("__n").as(s"__n_$d"))
    bandPairs(docs, idCol, perms, bands)
      .join(side("doc1"), Seq("doc1"))
      .join(side("doc2"), Seq("doc2"))
      .withColumn("inter", size(array_intersect(col("__sh_doc1"), col("__sh_doc2"))).cast("long"))
      .filter(col("inter") > 0) // as the shingle-keyed join: no shared shingle, no pair
      .withColumn("jaccard", col("inter").cast("double") /
        (col("__n_doc1") + col("__n_doc2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Smallest threshold at which the banded composition's per-pair miss
    * probability (1 − t^rows)^bands stays below `maxMiss` — the recall
    * boundary of MinHash banding. With the 64-perm/32-band default and
    * maxMiss = 1e-9 this is t ≈ 0.69: above it a qualifying pair
    * colliding in no band is a once-per-billion event; below it banding
    * under-recalls (a J = 0.2 pair misses every band w.p. ~27%). */
  def bandedSafeThreshold(perms: Int, bands: Int, maxMiss: Double = 1e-9): Double = {
    require(bands > 0 && perms % bands == 0)
    val rows = perms / bands
    math.pow(1.0 - math.pow(maxMiss, 1.0 / bands), 1.0 / rows)
  }

  /** Threshold-aware EXACT n-gram Jaccard — the operator to register:
    * at genuine near-dup thresholds (≥ [[bandedSafeThreshold]]) the
    * banded MinHash→exact-verify composition runs (skew-immune
    * candidate generation, recall loss ≤ 1e-9 per pair). Below the
    * boundary no affordable band shape reaches recall ≈ 1, so an EXACT
    * join runs instead, chosen by MEASURED shingle skew (one scalar
    * aggregation over a Bernoulli sample of the cached shingle frame —
    * unbiased for the routing ratio, see the inline note):
    * the direct shingle self-join when per-key fan-out is balanced
    * (prefix filtering prunes almost nothing at low t on flat corpora
    * — measured at sf0.1: 788k prefix candidates vs 1.27M direct
    * meetings, but prefix pays an extra verify pass), and the
    * prefix-filtered join when hot shingles (df > `hotDf`) carry the
    * majority of the pair fan-out — the Zipfian regime where the
    * direct join piles quadratic work on a few shuffle keys. Both
    * paths verify with full-set intersections, so every emitted pair
    * carries its true Jaccard — routing only decides how candidates
    * are found. */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, threshold: Double = 0.2,
                            perms: Int = 64, bands: Int = 32,
                            hotDf: Int = 64, skewSampleFrac: Double = 0.1): DataFrame =
    if (threshold >= bandedSafeThreshold(perms, bands))
      ngramJaccardPairsBanded(df, idCol, textCol, k, threshold, perms, bands)
    else {
      val sh = cachedCorpus(docShingles(df, idCol, textCol, k))
      // Skew is measured on a Bernoulli SAMPLE of the shingle frame:
      // E[C(Binomial(df, p), 2)] = C(df, 2)·p², i.e. sampling scales
      // every shingle group's meeting count by the same p², so the
      // hot-vs-total comparison is unbiased while the measurement's
      // shuffle volume shrinks ~p (rows) — at 100 TB the router costs a
      // sampled aggregation, not a full-cardinality shingle agg. A
      // sampled hot group is detected at df_sample > hotDf·p (its
      // expectation under the sample). Both candidate paths are exact,
      // so a flipped decision near the boundary costs time, never
      // correctness; p = 1 recovers the exact measurement.
      val p = math.min(1.0, math.max(1e-6, skewSampleFrac))
      val probe = if (p >= 1.0) sh else sh.sample(withReplacement = false, p, seed = 42L)
      val meetings = expr("(df * (df - 1)) DIV 2") // exact: df*(df-1) is even
      val stats = probe.groupBy("shingle").agg(count(lit(1)).as("df"))
        .agg(sum(meetings).as("total"),
          sum(when(col("df") > hotDf * p, meetings).otherwise(lit(0))).as("hot"))
        .first()
      val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      val hot = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      if (2 * hot > total) prefixFromShingles(sh, idCol, threshold)
      else directFromShingles(sh, idCol, threshold)
    }

  /** THE band-key derivation over a signature array column: one
    * xxhash64 per `perms/bands`-row slice. Shared by the batch
    * [[bandPairs]] equi-join and the streaming gate
    * (`DocStreams.bandRows`) so their keying can never drift — their
    * output equivalence is spec-pinned. */
  def bandKeysExpr(sigCol: String, perms: Int, bands: Int): org.apache.spark.sql.Column = {
    require(bands > 0 && perms % bands == 0,
      s"bands ($bands) must divide perms ($perms)")
    val rows = perms / bands
    expr(s"transform(sequence(0, ${bands - 1}), " +
      s"b -> xxhash64(slice($sigCol, b * $rows + 1, $rows)))")
  }

  /** LSH banding over signatures: distinct candidate pairs (doc1 < doc2)
    * sharing at least one band — an equi-join on (band, bandHash),
    * never an all-pairs join. */
  def bandPairs(sigs: DataFrame, idCol: String, perms: Int, bands: Int): DataFrame = {
    val banded = sigs.select(col(idCol),
      posexplode(bandKeysExpr("sig", perms, bands)).as(Seq("band", "bh")))
    banded.select(col(idCol).as("doc1"), col("band"), col("bh"))
      .join(banded.select(col(idCol).as("doc2"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
  }

  /** MinHash signature: for each of `perms` seeded hash permutations,
    * the min over the doc's shingles — the `(id, sig)` columns of the
    * cached [[docSignatures]] projection. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, perms: Int = 32): DataFrame =
    docSignatures(df, idCol, textCol, k, perms).select(col(idCol), col("sig"))

  /** LSH candidate pairs: docs sharing any band of the MinHash
    * signature, with estimated Jaccard (matching-permutation fraction)
    * >= threshold. Candidate generation is an equi-join on the band
    * hash — never an all-pairs join. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, perms: Int = 32, bands: Int = 8,
                        threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, k, perms)
    bandPairs(sigs, idCol, perms, bands)
      .join(sigs.select(col(idCol).as("doc1"), col("sig").as("sig1")), Seq("doc1"))
      .join(sigs.select(col(idCol).as("doc2"), col("sig").as("sig2")), Seq("doc2"))
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))").cast("double") / perms)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Duplicate-cluster resolution: given candidate near-dup PAIRS
    * `(doc1, doc2)`, assign every id in `ids` the minimum id of its
    * connected component — the survivor, "minimum" in Spark's ordering
    * of the id type (string ids get Spark's `min`). An edge with a null
    * end or a self-loop connects nothing and is dropped. Returns
    * (id, survivor) for every row of `ids`.
    *
    * The pairs are materialized ONCE — one eager checkpoint, oriented
    * (a = larger, b = smaller), whose CollectMetrics counts the edges
    * — and then one of two exact routes runs; [[survivorStats]] counts
    * each call's route and the star route's rounds:
    *  - driver: at most [[driverEdgeBound]] + 1 edges are collected.
    *    When they fit, union-find on the driver groups the ids into
    *    components and Spark takes `array_min` over each component's
    *    ids in a local relation that is broadcast into the final left
    *    join. The bound comes from `spark.sql.autoBroadcastJoinThreshold`
    *    (128 B per edge: ~82k edges at the 10 MB default), so the labels
    *    are no larger than what Spark broadcasts anyway; a threshold
    *    ≤ 0 turns the route off.
    *  - star: larger graphs run alternating large-star/small-star
    *    (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC 2014). Each round re-attaches every node's larger
    *    neighbours to the least id of its closed neighbourhood (large
    *    star), then every node and its smaller neighbours to their
    *    least (small star); both keep connectivity, and the fixpoint is
    *    one star per component centred on its minimum. The loop exits
    *    on an exact "edge set unchanged" test: the observed counts of
    *    each round's checkpoint may only skip the exact probe when they
    *    show a change (the rule in [[graft.Observed]]). The alternating
    *    algorithm converges in O(log² n) rounds; more than
    *    2·(⌈log₂ n⌉ + 1)² rounds fails the call with a `require`
    *    instead of returning wrong survivors. */
  def survivors(pairs: DataFrame, ids: DataFrame, idCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val edges = graft.Checkpoints.checkpoint(pairs
      .filter(col("doc1").isNotNull && col("doc2").isNotNull && col("doc1") =!= col("doc2"))
      .select(greatest(col("doc1"), col("doc2")).as("a"), least(col("doc1"), col("doc2")).as("b"))
      .observe(obs, count(lit(1)).as("n")))
    // the observed count is a cost hint only: it may double under
    // reliable checkpoints, and the route never changes the result
    val observed = graft.Observed.metrics(obs).map(graft.Observed.longOf(_, "n"))
    val bound = driverEdgeBound(spark)
    val collected: Option[Array[org.apache.spark.sql.Row]] =
      if (bound <= 0 || observed.exists(_ > 2 * bound)) None
      else if (observed.exists(_ <= bound)) Some(edges.collect())
      else Some(edges.limit(bound.toInt + 1).collect()).filter(_.length <= bound)
    val labels = collected match {
      case Some(rows) =>
        driverRoutes.incrementAndGet()
        graft.Checkpoints.free(edges) // the labels are a local relation
        driverLabels(rows, edges.schema("a").dataType, spark)
      case None =>
        starRoutes.incrementAndGet()
        starLabels(edges, observed.getOrElse(edges.count()))
    }
    ids.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), col("id")).as("survivor"))
  }

  /** Calls of [[survivors]] per route, and the star route's summed
    * rounds — JVM-wide, in the style of [[graft.Observed.fallbacks]]. */
  final case class SurvivorStats(driverRoutes: Long, starRoutes: Long, starRounds: Long)

  private val driverRoutes = new java.util.concurrent.atomic.AtomicLong()
  private val starRoutes = new java.util.concurrent.atomic.AtomicLong()
  private val starRounds = new java.util.concurrent.atomic.AtomicLong()

  def survivorStats: SurvivorStats =
    SurvivorStats(driverRoutes.get, starRoutes.get, starRounds.get)

  /** Driver-side heap per collected edge (two boxed ids, the row, the
    * union-find slots) that [[driverEdgeBound]] budgets for. */
  private val EdgeBytes = 128L

  /** Most edges [[survivors]] resolves on the driver:
    * `spark.sql.autoBroadcastJoinThreshold` / 128 B; ≤ 0 when the
    * threshold turns broadcasting off. */
  def driverEdgeBound(spark: org.apache.spark.sql.SparkSession): Long =
    math.min(spark.sessionState.conf.autoBroadcastJoinThreshold / EdgeBytes, Int.MaxValue - 1L)

  /** Round budget of the star route for a graph of at most `n` nodes:
    * 2·(⌈log₂ n⌉ + 1)², the O(log² n) bound with slack (random chains
    * of 2¹³ ids take 11 rounds). */
  private[graft] def starRoundBound(n: Long): Int = {
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2L) - 1)
    2 * (log2 + 1) * (log2 + 1)
  }

  /** (id, __s) for every id of `edges` via union-find on the driver;
    * the minimum of each component is Spark's `array_min`. */
  private def driverLabels(edges: Array[org.apache.spark.sql.Row],
                           idType: org.apache.spark.sql.types.DataType,
                           spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val index = new java.util.HashMap[Any, Integer]()
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def node(v: Any): Int = {
      val key = v match { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case o => o }
      val hit = index.get(key)
      if (hit != null) hit.intValue
      else {
        val i = values.length
        index.put(key, i); values += v; parent += i
        i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) } // path halving
      x
    }
    edges.foreach { r =>
      val ra = find(node(r.get(0)))
      val rb = find(node(r.get(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = values.indices.groupBy(find).valuesIterator
      .map(c => org.apache.spark.sql.Row(c.map(values)))
      .toSeq
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
      .StructField("__ids", org.apache.spark.sql.types.ArrayType(idType, containsNull = false))))
    broadcast(spark.createDataFrame(comps.asJava, schema)
      .select(explode(col("__ids")).as("id"), array_min(col("__ids")).as("__s")))
  }

  /** (id, __s) for every id of the oriented `edges` checkpoint via
    * alternating large-star/small-star rounds (see [[survivors]]);
    * `nEdges` bounds the node count at 2·nEdges for the round budget.
    * Superseded rounds are freed; the returned lazy frame reads the
    * last one. */
  private def starLabels(edges: DataFrame, nEdges: Long): DataFrame = {
    val maxRounds = starRoundBound(2 * math.max(nEdges, 1L))
    val gc = graft.LoopGc.ticker()
    var e = edges // round 0 reads the raw pairs, which may repeat an edge
    var eCount = Option.empty[Long]
    var rounds = 0
    var changed = true
    while (changed) {
      require(rounds < maxRounds,
        s"survivors: large-star/small-star did not converge within $maxRounds rounds " +
          s"(2·(⌈log₂ n⌉ + 1)² for n ≤ ${2 * nEdges} nodes)")
      // large star: edge (a, b), a > b, moves a onto the least id of b's
      // closed neighbourhood — b itself, or b's least smaller neighbour
      val mins = e.groupBy("a").agg(min("b").as("__m")).withColumnRenamed("a", "b")
      val large = e.join(mins, Seq("b"), "left")
        .select(col("a"), coalesce(col("__m"), col("b")).as("b"))
      // small star: a and each of its smaller neighbours link to their least
      val small = large.withColumn("__m",
          min("b").over(org.apache.spark.sql.expressions.Window.partitionBy("a")))
        .select(explode(array(
          struct(col("a").as("x"), col("__m").as("y")),
          struct(col("b").as("x"), col("__m").as("y")))).as("__e"))
        .select(col("__e.x").as("a"), col("__e.y").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val obs = org.apache.spark.sql.Observation()
      val next = graft.Checkpoints.checkpoint(
        if (rounds == 0) small.observe(obs, count(lit(1)).as("n"))
        else small.join(e.withColumn("__old", lit(true)), Seq("a", "b"), "left")
          .observe(obs, count(lit(1)).as("n"), count(col("__old")).as("kept"))
          .select("a", "b"))
      val m = graft.Observed.metrics(obs)
      val n = m.map(graft.Observed.longOf(_, "n"))
      // next == e iff next ⊆ e and |next| = |e| (both distinct after
      // round 0): the counts can prove a change, only the exact probe
      // proves there is none
      val observedChange = rounds == 0 || (for (x <- n; k <- m.map(graft.Observed.longOf(_, "kept")))
        yield k != x || eCount.exists(_ != x)).contains(true)
      changed = observedChange || !sameEdges(next, e)
      graft.Checkpoints.free(e)
      e = next
      eCount = n
      rounds += 1
      gc.tick() // bound dead-shuffle residency in long builds (LoopGc)
    }
    starRounds.addAndGet(rounds)
    e.groupBy(col("a").as("id")).agg(min("b").as("__s"))
  }

  /** Exact set equality of two distinct (a, b) edge frames: one job. */
  private def sameEdges(x: DataFrame, y: DataFrame): Boolean =
    x.withColumn("__x", lit(true))
      .join(y.withColumn("__y", lit(true)), Seq("a", "b"), "full_outer")
      .filter(col("__x").isNull || col("__y").isNull)
      .limit(1).count() == 0

  /** 64-bit SimHash over word hashes: bit b is set when the sum of
    * ±1 contributions (per word, sign of bit b of xxhash64(word)) is
    * positive. Kernel is the codegen'd graft.functions.SimHash64. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    graft.Parallelism.spread(df).withColumn("__ws", words(col(textCol)))
      .filter(size(col("__ws")) > 0)
      .withColumn("__wh", expr("transform(__ws, w -> xxhash64(w))"))
      .withColumn("simhash", graft.functions.GraftFunctions.simhash64(col("__wh")))
      .select(col(idCol), col("simhash"))
  }

  /** SimHash near-dup candidates: split the 64-bit signature into 4
    * 16-bit blocks; docs sharing any block are candidates; keep pairs
    * with Hamming distance <= maxHamming. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 8): DataFrame = {
    val sh = cached(simhash(df, idCol, textCol))
    val blocked = sh.select(col(idCol), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535)")).as(Seq("block", "bk")))
    val cands = blocked.select(col(idCol).as("doc1"), col("simhash").as("h1"), col("block"), col("bk"))
      .join(blocked.select(col(idCol).as("doc2"), col("simhash").as("h2"), col("block"), col("bk")),
        Seq("block", "bk"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2", "h1", "h2").distinct()
    cands
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
  }
}
