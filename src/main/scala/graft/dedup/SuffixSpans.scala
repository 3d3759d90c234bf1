package graft.dedup

import graft.operators.GlobalOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact maximal repeated passages via a distributed suffix ordering —
  * the Lee et al. '22 ExactSubstr construction (suffix array + neighbor
  * LCP), re-expressed for Spark.
  *
  * [[repeatExtents]] computes, for every token position, the EXACT
  * length of the longest repeated prefix of the suffix starting there;
  * its one consumer is [[longestPassages]] (the maximal repeated
  * passages themselves — the duplicate-mass inventory a curation pass
  * reports), built at that consumer's own `minLen`. Span COVERAGE at a
  * threshold k needs no suffix ordering: a token is covered by a repeat
  * of length ≥ k exactly when it is covered by a repeated k-gram, which
  * is what [[Dedup.duplicateSpans]] computes.
  *
  * Construction (all relational, no driver-side corpus state):
  *  1. Prefix doubling (Manber–Myers): rank each suffix by its first
  *     8·2^h tokens (round 0 keys on the raw 8-token slice — NUL-joined
  *     into one string on NUL-free corpora, else compared as array;
  *     both orders ARE shorter-prefix-first finite-suffix order), then
  *     double h with one partner rank per round until the span covers
  *     every still-ambiguous suffix's remaining length (the round gate —
  *     not the longest document's length). Ranks are HEAD ranks
  *     (class head's global row index,
  *     [[GlobalOrder.withHeadRankFlagged]]) so a class of size s owns
  *     rank range [r, r+s) and refines in place: each
  *     round only the still-ambiguous classes fetch their pos+2^h
  *     partner's rank and re-sort — rows carry (id, pos, rank, rank2),
  *     ~32 bytes, never token text (the singleton flag and the
  *     class-head rank ride the ranking sort itself — zero groupBy
  *     shuffles, zero split joins). Each round is join-formulated
  *     ([[doublingJoin]]): the pending rows probe the rank view
  *     (frozen pieces ∪ pending) by an equi-join on (doc id, pos + 2^h).
  *     Suffixes never compare across documents (a position within 2^h
  *     of its doc end ranks its missing partner as −1 = "ends here",
  *     which orders doc-final suffixes exactly like finite strings).
  *  2. Suffix-array adjacency: one [[GlobalOrder.withPrev]] boundary
  *     exchange over (rank, id, pos) pairs each suffix with its SA
  *     neighbor; a suffix's longest repeated prefix is realized at an
  *     adjacent suffix (suffixes sharing a prefix are contiguous in SA
  *     order), so only n−1 pairs ever need LCP resolution.
  *  3. Neighbor LCP: equal final ranks = identical suffixes (LCP =
  *     min remaining length, no comparison needed); unequal pairs
  *     prefilter on the 128-bit minLen-gram hashes (pairs that cannot
  *     reach minLen are dropped without touching token arrays), then
  *     resolve exactly by comparing geometrically growing token
  *     chunks — survivors after round r share ≥ minLen·2^r tokens, so
  *     rounds shrink to the true heavy-repeat mass and the per-pair
  *     mismatch position lands via one indexed array expression.
  *
  * Scale: the doubling loop is ⌈log2(max doc tokens / 8)⌉ rounds of
  * slim shuffles; token arrays are only shuffled in the chunk rounds,
  * whose survivor set after round 0 is the actual duplicate mass (AQE
  * broadcasts the shrinking pair side). */
object SuffixSpans {

  private def words(text: org.apache.spark.sql.Column) =
    graft.text.TextAnalysis.words(text)

  /** (idCol, n_tokens, pos, dup_len): for every token position whose
    * longest repeated prefix reaches `minLen`, its EXACT length.
    * A "repeat" is any other corpus position (any doc, including the
    * same one) whose suffix shares that prefix. The construction runs
    * eagerly and returns a checkpointed frame; positions with fewer
    * than `minLen` remaining tokens never enter the ordering. */
  def repeatExtents(df: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 8): DataFrame =
    graft.Checkpoints.checkpoint(computeExtents(df, idCol, textCol, minLen))

  /** Round-0 rank width: ranking on 8-token slices removes the three
    * full-corpus sort rounds (spans 1, 2 and 4) that rarely individuate
    * natural text, at the price of ~8× wider round-0 sort rows. Widths
    * 1 and 4 lost to 8 at sf10 (BENCH_sa_base_ab_r12.json), and so did
    * 16 and 32 (BENCH_sa_ladder_ab_r13.json: past 8 the round-0 rows
    * grow linearly while the saved rounds are already gone); 4-ary
    * doubling lost to binary there too (1.2–1.7× slower). */
  private val BaseWidth = 8

  /** Token-comparison budget per task for the chunked-LCP compare
    * stage (work-aware repartition). Targets ~100 ms tasks on one
    * core; BENCH_sa_sf10_r19.json left the stage to AQE together with
    * switching off the loop GC, and the defaults won both pairs. */
  private val LcpTokensPerTask = 2000000L

  /** [[computeExtentsDistinct]] behind a measured-routed
    * EXACT-DUPLICATE COLLAPSE. A suffix's content depends only on its
    * text, so the suffix ordering — the expensive part — runs over ONE
    * representative per distinct text. Exactness of the re-expansion:
    *   - a text with ≥ 2 copies: EVERY position's full remaining
    *     suffix repeats verbatim in a twin copy, so
    *     `dup_len(pos) = n_tokens − pos` in closed form (it is both
    *     attained and an upper bound) — no ordering needed at all;
    *   - a unique text: every distinct content in the full corpus is
    *     present exactly once in the representative corpus, so a
    *     repeat exists there iff it exists in the full corpus, and the
    *     distinct-corpus extents transfer unchanged (a repeat against
    *     the 2nd..nth copy of a duplicated text is a repeat against
    *     its representative).
    * Real corpora are heavily exact-duplicated (which is why exact
    * dedup is a pipeline stage at all), so this turns the dominant
    * cost from O(total tokens · log maxLen) sorts into O(distinct
    * tokens · log maxLen) + one text-keyed aggregation + one
    * AQE-skew-splittable join — the collapse a 100 TB run cannot skip.
    * Grouping is on the raw text (never a hash): a hash collision
    * would silently merge distinct texts, and exactness here is
    * oracle-checked. */
  private def computeExtents(df: DataFrame, idCol: String, textCol: String,
                             minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val base = graft.Parallelism.spread(df).select(col(idCol), col(textCol))
    // MEASURED routing (the editdist-chooser pattern): the collapse
    // pays one full text-keyed aggregation up front — on mostly-unique
    // corpora that is pure tax (+9% measured at sf0.1, 0.16% dup), on
    // heavily exact-duplicated ones it removes the bulk of the suffix
    // sort (0.39× measured on a 98%-dup 250k-doc corpus,
    // BENCH_sa_collapse_r11.json). A 10% sampled distinct-count
    // estimates the collapsible fraction; the estimate is conservative
    // in exactly the right direction — a duplicate pair is seen only
    // if BOTH copies land in the sample, so small clusters (small
    // savings) route to the direct path. Both paths are EXACT; the
    // probe is one sampled aggregation at construction (this operator
    // is construction-eager anyway).
    val probe = base.sample(withReplacement = false, 0.1, seed = 7)
      .agg(count(lit(1)).as("__n"), countDistinct(col(textCol)).as("__d")).first()
    val (pn, pd) = (probe.getLong(0), probe.getLong(1))
    if (pn == 0L || (pn - pd).toDouble / pn < 0.1)
      return computeExtentsDistinct(df, idCol, textCol, minLen)
    val groups = base.groupBy(col(textCol))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__cnt"))
    val extD = computeExtentsDistinct(
      groups.select(col("__rep").as(idCol), col(textCol)), idCol, textCol, minLen)
    val dupTexts = groups.filter(col("__cnt") >= 2)
    // duplicated reps' SA rows are superseded by the closed form below
    val uniqExt = extD.join(dupTexts.select(col("__rep").as(idCol)),
      Seq(idCol), "left_anti")
    val dupExt = base
      .join(dupTexts
        .withColumn("__n", size(words(col(textCol))).cast("long"))
        .filter(col("__n") >= minLen)
        .select(col(textCol), col("__n")), Seq(textCol))
      .select(col(idCol), col("__n").as("n_tokens"),
        explode(sequence(lit(0), (col("__n") - minLen).cast("int"))).as("pos"))
      .select(col(idCol), col("n_tokens"), col("pos"),
        (col("n_tokens") - col("pos")).as("dup_len"))
    uniqExt.unionByName(dupExt)
  }

  private def computeExtentsDistinct(df: DataFrame, idCol: String, textCol: String,
                                     minLen: Int): DataFrame = {
    // workHint 8: this cache feeds the round-0 suffix explode (one row
    // per token position, each carrying an 8-token slice key —
    // ~8× the input bytes before the sort) and the gram prefilter
    // explode, both narrow over the cache's partitioning
    val docsArr = Dedup.cachedCorpus(graft.Parallelism.spread(df, 8)
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= minLen)
      .select(col(idCol), col("__ws"), size(col("__ws")).cast("long").as("n_tokens")))

    // one head pass: max length (empty guard and the chunked-LCP round
    // bound) and whether any token contains NUL (the binary base key's
    // separator — see below)
    val head = docsArr.agg(max("n_tokens"),
      max(when(exists(col("__ws"), t => t.contains("\u0000")), 1).otherwise(0))).first()
    if (head.isNullAt(0))
      // no doc long enough: empty result, right schema
      return docsArr.select(col(idCol), col("n_tokens"),
        lit(0).as("pos"), lit(0L).as("dup_len")).limit(0)
    val nulFree = head.getInt(1) == 0
    val maxDocTokens = head.getLong(0)

    // --- 1. prefix doubling ------------------------------------------
    // Head ranks (rank = global index of the class head) let a round
    // refine ONLY the still-ambiguous classes: a class of size s owns
    // the rank range [r, r+s), so its refinement (r + within-class
    // offset) never collides with — and never has to re-rank — the
    // already-singleton rest of the corpus. Natural text individuates
    // almost every suffix within the first few rounds, so after
    // span ≈ 8 the ambiguous set collapses to the true repeat mass
    // and each remaining round is a scan + small broadcast join
    // instead of a full corpus sort (a dense-rank formulation
    // re-sorts ALL n positions every round).
    //
    // WIDE BASE RANK: round 0 ranks each suffix by its first
    // [[BaseWidth]] tokens — the key is the raw token slice,
    // compared as array<string> (Spark array ordering is
    // lexicographic with shorter-prefix-first, which is EXACTLY
    // finite-suffix order: a suffix within 8 tokens of its doc end
    // keys on its full remaining tokens, so equal keys of unequal
    // remaining length are impossible). The loop then starts at span
    // 8, skipping the three earliest rounds — the ones whose 1–4-token
    // prefixes rarely individuate natural text, so they
    // full-corpus-sort ~n rows each. The key is
    // CONTENT, never a hash: a hash collision would silently merge
    // distinct suffix classes, and this construction is oracle-exact.
    // BINARY BASE KEY: when no token contains NUL (checked
    // in the head pass above — NUL sorts below every other character),
    // the slice keys join into ONE NUL-separated string instead of an
    // array<string>. Order equivalence: within-token differences
    // compare identically; at a token boundary the separator beats any
    // token character (so token "ab" < token "abc" ⇒ "…ab\0…" <
    // "…abc…"), and a shorter slice's joined form is a strict prefix
    // of any extension (shorter-prefix-first = finite-suffix order,
    // same as the array form). Why it pays: string sort keys ride
    // Spark's 8-byte UnsafeRow sort-prefix fast path and skip the
    // per-position 8-element array allocation; array<string> keys
    // compare through the interpreted ordering on every comparison.
    // A NUL-containing corpus (adversarial — words() never produces
    // one from whitespace splitting of sane text, but parquet can hold
    // anything) falls back to the array form: exactness never rests on
    // the separator assumption.
    val baseKey = s"slice(__ws, i + 1, $BaseWidth)"
    // steps 1–3 key on the caller's id, carried as "__kid"
    val toks = docsArr.select(col(idCol).as("__kid"), col("n_tokens"),
      posexplode(expr(
        if (nulFree) s"transform(__ws, (x, i) -> array_join($baseKey, chr(0)))"
        else s"transform(__ws, (x, i) -> $baseKey)")).as(Seq("pos", "__t")))
    // the singleton/ambiguous split and the class-head rank both ride
    // the ranking sort itself (GlobalOrder.withHeadRankFlagged): one
    // parallel sort per round, no groupBy shuffles, no split joins
    val r0 = GlobalOrder.withHeadRankFlagged(toks, Nil, Seq(col("__t")), "__r", "__amb")
    // the doubling loop's startup gate — the pending set's max remaining
    // length — rides the round-0 checkpoint's own materialization
    // (CollectMetrics) instead of a separate pendStats job (guide §1.2:
    // remove serial driver passes). A wrong/missing metric cannot
    // mis-rank: the loop re-confirms any observed gate CLOSE with an
    // exact aggregate before exiting (see gateOpen in doublingJoin).
    val obs0 = org.apache.spark.sql.Observation()
    val all0 = graft.Checkpoints.checkpoint(r0.drop("__t").observe(obs0,
      max(when(col("__amb"), col("n_tokens") - col("pos"))).as("mx")))
    val ranked = doublingJoin(all0, graft.Observed.metrics(obs0))

    // --- 2. SA adjacency (suffixes that can host a >=minLen repeat) ---
    val suff = ranked.filter(col("pos") <= col("n_tokens") - minLen)
      .withColumn("__rem", col("n_tokens") - col("pos"))
    val adj = GlobalOrder.withPrev(suff,
      Seq(col("__r"), col("__kid"), col("pos")), Seq("__kid", "pos", "__r", "__rem"))
    val pairs = adj.filter(col("__prev___kid").isNotNull)
      .select(col("__prev___kid").as("idA"), col("__prev_pos").as("posA"),
        col("__prev___r").as("rA"), col("__prev___rem").as("remA"),
        col("__kid").as("idB"), col("pos").as("posB"),
        col("__r").as("rB"), col("__rem").as("remB"))

    // --- 3. neighbor LCPs ---------------------------------------------
    // equal ranks = identical suffixes to their doc ends
    val eqLcp = pairs.filter(col("rA") === col("rB"))
      .select(col("idA"), col("posA"), col("idB"), col("posB"),
        least(col("remA"), col("remB")).as("lcp"))
    // 128-bit gram prefilter: unequal hashes PROVE lcp < minLen (drop);
    // equal hashes proceed to exact chunk comparison from off = minLen
    val grams = docsArr.select(col(idCol).as("__kid"),
        posexplode(Dedup.positionalShingleArray(minLen)).as(Seq("pos", "__g")))
      .select(col("__kid"), col("pos"),
        xxhash64(col("__g")).as("gh1"), xxhash64(lit("s2"), col("__g")).as("gh2"))
    val gA = grams.select(col("__kid").as("idA"), col("pos").as("posA"),
      col("gh1").as("a1"), col("gh2").as("a2"))
    val gB = grams.select(col("__kid").as("idB"), col("pos").as("posB"),
      col("gh1").as("b1"), col("gh2").as("b2"))
    // the survivor count rides each checkpoint's own materialization
    // (CollectMetrics) — previously a separate isEmpty job per round.
    // Safe either way it is wrong: an overcount costs one empty round;
    // an undercount exits early and the post-loop require() fails the
    // job LOUDLY (it re-scans active exactly) — never silent mis-LCPs.
    val obsA = org.apache.spark.sql.Observation()
    var active = graft.Checkpoints.checkpoint(
      pairs.filter(col("rA") =!= col("rB"))
        .join(gA, Seq("idA", "posA")).join(gB, Seq("idB", "posB"))
        .filter(col("a1") === col("b1") && col("a2") === col("b2"))
        .select(col("idA"), col("posA"), col("idB"), col("posB"),
          lit(minLen.toLong).as("__off"), least(col("remA"), col("remB")).as("__lim"))
        .observe(obsA, count(lit(1)).as("cnt")))
    // -1 = metric missing: fall back to the exact isEmpty probe
    var activeCnt: Long = graft.Observed.metrics(obsA)
      .map(graft.Observed.longOf(_, "cnt")).getOrElse(-1L)
    val wsA = docsArr.select(col(idCol).as("idA"), col("__ws").as("__wsA"))
    val wsB = docsArr.select(col(idCol).as("idB"), col("__ws").as("__wsB"))
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    done += eqLcp
    var chunk = minLen.toLong
    var rounds = 0
    // after r rounds every unresolved pair has matched minLen·2^r
    // tokens, and no pair can match more than the longest doc
    var maxRounds = 1
    while ((minLen.toLong << maxRounds) < maxDocTokens) maxRounds += 1
    val shufP = df.sparkSession.sessionState.conf.numShufflePartitions
    val gc = graft.LoopGc.ticker()
    while (rounds < maxRounds &&
        (if (activeCnt >= 0) activeCnt > 0 else !active.isEmpty)) {
      // WORK-AWARE REPARTITION of the chunk-compare join (guide §2
      // partition-by-work; r18 verdict item 2): this stage's cost is
      // |active| × chunk token comparisons while its shuffle BYTES are
      // slim (ids + offsets) — exactly the shape AQE's byte-based
      // coalescing collapses to ONE task at small SF (measured 2-11 s
      // single-task stages inside the passages/editdist walls). The
      // fused count prices the work for free; only when it exceeds one
      // task-budget of comparisons is the pair side explicitly
      // repartitioned (AQE never coalesces a user numPartitions
      // repartition) — tiny rounds keep their AQE plans untouched (the
      // r18 lesson: pinning every small stage at 32 tasks regressed
      // the six-query set 3×, BENCH minPartitionSize=1b).
      val workParts =
        if (activeCnt > 0)
          math.min(shufP.toLong, activeCnt * chunk / LcpTokensPerTask + 1).toInt
        else 1
      val pairSide = if (workParts > 1) active.repartition(workParts, col("idA"))
                     else active
      val obs = org.apache.spark.sql.Observation()
      val step = graft.Checkpoints.checkpoint(
        pairSide.join(wsA, Seq("idA")).join(wsB, Seq("idB"))
        .withColumn("__z", zip_with(
          expr(s"slice(__wsA, cast(posA + __off + 1 as int), ${chunk.toInt})"),
          expr(s"slice(__wsB, cast(posB + __off + 1 as int), ${chunk.toInt})"),
          (x, y) => coalesce(x === y, lit(false))))
        .withColumn("__fp", expr("array_position(__z, false)"))
        .withColumn("__adv",
          when(col("__fp") > 0, col("__fp") - 1).otherwise(size(col("__z")).cast("long")))
        .select(col("idA"), col("posA"), col("idB"), col("posB"),
          (col("__off") + col("__adv")).as("__off"), col("__lim"),
          (col("__fp") > 0 || col("__adv") < chunk).as("__mismatch"))
        .withColumn("__done", col("__mismatch") || col("__off") >= col("__lim"))
        .observe(obs, count(when(!col("__done"), 1)).as("rem")))
      done += step.filter(col("__done"))
        .select(col("idA"), col("posA"), col("idB"), col("posB"),
          least(col("__off"), col("__lim")).as("lcp"))
      active = step.filter(!col("__done"))
        .select("idA", "posA", "idB", "posB", "__off", "__lim")
      activeCnt = graft.Observed.metrics(obs)
        .map(graft.Observed.longOf(_, "rem")).getOrElse(-1L)
      chunk = math.min(chunk * 2, Int.MaxValue / 4)
      rounds += 1
      gc.tick() // bound dead-shuffle residency in long builds (LoopGc)
    }
    require(active.isEmpty,
      s"repeatExtents chunk resolution did not converge in $maxRounds rounds")

    // dup_len(pos) = max LCP with either SA neighbor
    val lcps = done.reduce(_ unionByName _)
    val byPos = lcps.select(col("idA").as("__kid"), col("posA").as("pos"), col("lcp"))
      .unionByName(lcps.select(col("idB").as("__kid"), col("posB").as("pos"), col("lcp")))
      .groupBy(col("__kid"), col("pos")).agg(max("lcp").as("dup_len"))
      .filter(col("dup_len") >= minLen)
    // attach n_tokens (byPos holds only the duplicate-mass positions, so
    // this join is result-sized)
    byPos.join(docsArr.select(col(idCol).as("__kid"), col("n_tokens")), Seq("__kid"))
      .select(col("__kid").as(idCol), col("n_tokens"), col("pos"), col("dup_len"))
  }

  /** The maximal repeated passages themselves: top `topN` longest
    * exact repeats, one row per run start (positions strictly inside a
    * longer repeat are suppressed: a position whose predecessor's
    * extent already reaches one token further is not a new passage).
    * Output: (idCol, pos, dup_len, passage), ordered dup_len desc with
    * (idCol, pos) tie-break — deterministic. Only the `topN` winners
    * re-read their text: the passage is sliced from `words(text)` of
    * those rows alone, never from a second tokenized corpus. */
  def longestPassages(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 8, topN: Int = 20): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val ext = repeatExtents(df, idCol, textCol, minLen)
    val w = Window.partitionBy(idCol).orderBy("pos")
    val order = Seq(col("dup_len").desc, col(idCol), col("pos"))
    val top = ext
      .withColumn("__ppos", lag("pos", 1).over(w))
      .withColumn("__plen", lag("dup_len", 1).over(w))
      .filter(col("__ppos").isNull || col("__ppos") =!= col("pos") - 1 ||
        col("__plen") < col("dup_len") + 1)
      .orderBy(order: _*)
      .limit(topN)
      .select(col(idCol), col("pos"), col("dup_len"))
    top.join(df.select(col(idCol), col(textCol)), Seq(idCol))
      .select(col(idCol), col("pos"), col("dup_len"),
        concat_ws(" ", slice(words(col(textCol)), col("pos") + 1,
          col("dup_len").cast("int"))).as("passage"))
      .orderBy(order: _*)
      .limit(topN) // a top-N sort in one stage, not a range-partitioned global sort
  }

  /** The join-formulated doubling loop: frozen checkpointed pieces + a
    * pending set; each round's partner lookup equi-joins the pending
    * probe against the shifted full rank view (frozen ∪ pending ≈ n
    * rows — a full-corpus exchange, or a broadcast + full-view scan
    * once the pending side shrinks). `init` carries the round-0
    * checkpoint's observed gate ("mx"). Input rows:
    * (__kid, n_tokens, pos, __r, __amb); output: (__kid, n_tokens, pos,
    * __r), the final rank table. */
  private def doublingJoin(all0: DataFrame, init: Option[Map[String, Any]]): DataFrame = {
    val cols = Seq(col("__kid"), col("n_tokens"), col("pos"), col("__r"))
    // frozen pieces (classes proven singleton) + the active remainder;
    // their union is the full rank table at any round
    // Both splits are MATERIALIZED slim: frozen pieces are rescanned by
    // every later round's rankedView, so leaving them as lazy filters
    // over the full per-round checkpoints would re-read each round's
    // whole refined set (≈ the duplicate mass, which on low-entropy
    // corpora stays ≈ n for all ⌈log2 maxLen⌉ rounds) once per LATER
    // round — a quadratic-in-rounds scan. Materialized, the pieces are
    // disjoint and total ≤ n rows at any round.
    val frozenParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    frozenParts += graft.Checkpoints.checkpoint(
      all0.filter(!col("__amb")).select(cols: _*))
    var pend = graft.Checkpoints.checkpoint(
      all0.filter(col("__amb")).select(cols: _*))
    var span = BaseWidth.toLong
    // ROUND GATE: stop when span covers every pending
    // row's remaining suffix, not when it covers the longest DOC.
    // Once span ≥ max(n_tokens − pos) over the pending set, every
    // pending class's shared rank already encodes its members' full
    // remaining suffixes (the −1 end-marker chain orders doc-final
    // suffixes like finite strings), so equal rank = identical
    // suffixes — exactly the loop's exit invariant — and further
    // rounds provably refine nothing while still paying a sort each.
    // A corpus whose longest doc is 4096 tokens but whose ambiguous
    // classes are all short repeats would otherwise pay ~9 dead
    // rounds.
    // The gate aggregate rides the newPend CHECKPOINT's own
    // materialization (CollectMetrics), not a separate per-round job. Gate
    // discipline: an OPEN observed gate is safe to trust (worst case a
    // dead round that refines nothing), but a CLOSED one is
    // exactness-bearing, so gateOpen() re-confirms any close with this
    // exact aggregate before the loop may exit; a missing metric
    // (listener hiccup) falls back to it too.
    def pendMax(): Long = { // max remaining length; 0 when empty
      val r = pend.agg(max(col("n_tokens") - col("pos"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var gate = init.map(graft.Observed.longOf(_, "mx")).getOrElse(pendMax())
    var gateExact = init.isEmpty
    def gateOpen(): Boolean = span < gate || {
      if (!gateExact) { gate = pendMax(); gateExact = true }
      span < gate
    }
    val gc = graft.LoopGc.ticker()
    while (gateOpen()) {
      val rankedView = (frozenParts :+ pend).reduce(_ unionByName _)
      // suffix at pos p extends with the rank of the suffix at
      // p + span (a −1 end marker orders a proper-prefix suffix
      // strictly first). The lookup shifts the rank view by −span so
      // the probe is a plain equi-join. Positions with
      // pos ≥ n_tokens − span have no partner — knowable
      // arithmetically, so the join stays INNER (broadcastable on the
      // shrinking active side; a left join would force the full
      // corpus-sized lookup through a shuffle).
      val nearEnd = pend.filter(col("pos") >= col("n_tokens") - lit(span))
        .withColumn("__p", lit(-1L))
      val lookup = rankedView.select(col("__kid"), (col("pos") - lit(span)).as("pos"),
        col("__r").as("__p"))
      val paired = pend.filter(col("pos") < col("n_tokens") - lit(span))
        .join(lookup, Seq("__kid", "pos"))
        .unionByName(nearEnd)
      // within class [r, r+s): new rank = r + (rows strictly before
      // this row's (r, partner) run) = r + __sh − __ch, where __ch
      // (the block head = min(__sh) over the class, contiguous under
      // the sort) and the new class's size>1 flag are computed inside
      // the ranking pass itself — every member of an ambiguous class
      // is in the subset, so the offsets are exact
      val sub = GlobalOrder.withHeadRankFlagged(paired, Seq(col("__r")),
        Seq(col("__p")), "__sh", "__amb", Some("__ch"))
      val refined = graft.Checkpoints.checkpoint(
        sub.select(col("__kid"), col("n_tokens"), col("pos"),
          (col("__r") + col("__sh") - col("__ch")).as("__r"), col("__amb")))
      frozenParts += graft.Checkpoints.checkpoint(
        refined.filter(!col("__amb")).select(cols: _*))
      val obs = org.apache.spark.sql.Observation()
      val newPend = graft.Checkpoints.checkpoint(
        refined.filter(col("__amb")).select(cols: _*)
          .observe(obs, max(col("n_tokens") - col("pos")).as("mx")))
      // refined and the old pending set are now superseded — both of
      // their consumers (the frozen piece and newPend; rankedView's
      // lookup ran inside refined's own materialization) are eagerly
      // checkpointed, so their blocks are dead. Without the explicit
      // free they accumulate for the whole build: on a low-entropy
      // corpus pend stays ≈ n for all rounds, i.e. rounds × n resident
      // blocks — the measured 51.7 GB sf100 disk-guard kill.
      graft.Checkpoints.free(refined)
      graft.Checkpoints.free(pend)
      pend = newPend
      span *= 2
      val m = graft.Observed.metrics(obs)
      gate = m.map(graft.Observed.longOf(_, "mx")).getOrElse(pendMax())
      gateExact = m.isEmpty
      gc.tick() // bound dead-shuffle residency in long builds (LoopGc)
    }
    // classes still ambiguous when the gate closes are genuinely
    // identical suffixes (to their doc ends) — their shared rank is
    // final. all0 (position-table-sized — the single largest
    // checkpoint in the build) is dead: its only consumers were the
    // eager round-0 splits
    graft.Checkpoints.free(all0)
    (frozenParts :+ pend).reduce(_ unionByName _)
  }
}
