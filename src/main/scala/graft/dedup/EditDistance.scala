package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded edit-distance (Levenshtein) similarity self-join — the
  * character-level near-dup family the token-set operators
  * ([[Dedup.ngramJaccardPairsAuto]], MinHash, SimHash) cannot express:
  * Jaccard on word shingles is blind to within-token typo edits, and
  * two docs can share every 3-gram set yet differ by many character
  * edits. Complements the reference's content-equality dedup surface
  * (exact dup detection, `private/df.rkt`'s series equality) with the
  * standard approximate-string-join from the record-linkage
  * literature.
  *
  * Semantics: over each document's HEAD (first `headChars` chars — the
  * fingerprint region; titles/boilerplate make heads the standard
  * dedup key), all unordered pairs with
  * `lev(headA, headB) <= floor(maxFrac * max(lenA, lenB))`.
  *
  * Scale shape (the 100 TB plan, not the quadratic one): POSITION-AWARE
  * partition matching after PassJoin (Li, Deng, Feng, "PASS-JOIN: a
  * partition-based method for similarity joins", PVLDB 2011).
  *
  *  - INDEXED side: each head of length L — in its role as the
  *    SHORTER member of a pair — partitions into
  *    `c(L) = d(L)+1` contiguous disjoint segments at FIXED positions
  *    (first `c−k` of width `L div c`, last `k = L mod c` one wider),
  *    where `d(L) = floor(olenMax(L)·maxFrac)` is the largest edit
  *    budget any admissible longer partner can grant
  *    (`olenMax(L) = min(headChars, ceil(L/(1−maxFrac)))` — longer
  *    partners violate `lev ≥ |lenA−lenB|`). Each single-char edit op
  *    touches at most one segment, so a pair within budget τ ≤ d(L)
  *    leaves ≥ c−τ ≥ 1 segments copied VERBATIM into the partner.
  *  - PROBE side: each head of length L — in its role as the LONGER
  *    member — enumerates, for every admissible shorter length
  *    `L' ∈ [L − τ(L), L]` with `τ(L) = floor(L·maxFrac)` and every
  *    segment index i of the L'-partition, the content of that
  *    segment's would-be image: `substring(__h, p_i + s, l_i)` at
  *    every shift `s` with `|s| + |Δ − s| ≤ τ` (Δ = L − L'). The
  *    window is EXACT, not heuristic: an intact segment's image
  *    starts at `p_i + s` where s = net indels before it, the edits
  *    before and after it number ≥ |s| and ≥ |Δ − s|, and the total
  *    is ≤ τ — so every within-budget pair meets on ≥ 1
  *    `(L', i, content)` key. ~(τ+1) shifts × c(L') segments ×
  *    (τ+1) lengths ≈ a few hundred slim rows per head: linear,
  *    keyed, shuffle-joinable.
  *  - WHY position-aware: the previous chunk–gram pigeonhole joined
  *    on position-FREE `(width, gram)` keys, so every boilerplate
  *    q-gram ("the ", template vocabulary) went hot corpus-wide —
  *    measured at sf0.1, 4978 of 5000 heads diverted to the
  *    length-band fallback, whose candidate set (11.5M pairs) WAS
  *    the all-pairs join the route exists to avoid (≈125B pairs at
  *    sf10). A common substring only collides on a PassJoin key when
  *    it sits in the same segment of same-length partners at a shift
  *    admissible under the budget — per-key document frequency
  *    collapses from corpus-wide to near-constant.
  *  - Hot-segment guard via OVER-PARTITIONING + PER-HEAD TOP-SPARE
  *    DROP: the partition uses `c = d+1+extraSegs` segments (clamped
  *    to the head length), `extraSegs` more than the pigeonhole
  *    minimum. With τ ≤ d edits destroying ≤ τ segments, ≥ c−τ ≥
  *    spare+1 segments stay intact (spare = c−(d+1)), so every head
  *    may leave up to `spare` segments UN-INDEXED and remain fully
  *    covered — which segments is a free choice, so each head drops
  *    its costliest: the top `spare` of its HOT segments (per-key
  *    probe-side document frequency over the clamped threshold
  *    `clamp(hotFrac·n, hotDf, hotDfCap)`, measured on a Bernoulli
  *    head-sample) ranked by sampled df. Suppression, never
  *    diversion, at zero recall loss — there is NO corpus-wide
  *    fallback join. Earlier designs diverted whole heads (to a
  *    salted length-band join) once they owned more than `spare` hot
  *    segments; the round-10 sf10 run measured 82% of a low-entropy
  *    corpus diverting, and any corpus-wide fallback is quadratic
  *    when a constant fraction of the corpus takes it. A flipped
  *    sampling decision costs time, never correctness. Zero-length
  *    heads (no segments) pair only with each other (lev("",y) =
  *    len(y)) via a tiny keyed self-join.
  *  - GIANT-KEY BLOCK SPLIT backstop: a key hot on BOTH sides (a
  *    boilerplate region wider than `spare` segments can drop — the
  *    round-11 stress artifact's honest limit) would land its whole
  *    a·b candidate stream in one hash partition, and AQE cannot
  *    split inside a key. Keys whose sampled candidate product
  *    exceeds the block budget get a block id fused into the join
  *    key: the PROBE side (the volume) tags each row with its own
  *    doc-hash block — a projection, no generate — and only the
  *    SEGS side (c rows/doc) replicates giant-key rows once per
  *    probe block, spreading the stream over B sub-keys of
  *    ~blockTarget candidates each at an unchanged candidate
  *    multiset. The escalation ladder (`editDistancePairsAuto`)
  *    never needs to refuse: the last rung's volume is irreducible
  *    real work, but it is at least PARALLEL.
  *
  * Verification is FUSED into the candidate join stage: both join
  * sides carry their head string plus a one-long char-count signature
  * ([[graft.functions.CharCountSig]]), and each emitted candidate is
  * first screened by the sound lower bound `nibbleL1(sigA, sigB) ≤
  * 2·ed` — refuting at ~16 nibble ops the bulk of what the DP would
  * refute at O(dMax·len) cells (sf10: 451 → 131 s, identical pairs) —
  * before the codegen'd BANDED `levenshtein(a, b, threshold)` kernel
  * (Ukkonen band, O(dMax·len) cells, early exit) filters the
  * survivors as the shuffled-hash join emits them — on a low-entropy corpus the candidate multiset
  * is orders of magnitude larger than both the input and the output
  * (10.7 B rows at sf10 for a 500 k-doc corpus), and the round-9
  * join-then-attach-heads plan shuffled it three more times (>150 GB
  * of disk for rows that exist only to be refuted). Only verified
  * survivors pay the closing `distinct()` (a pair can meet on
  * several intact segments). The thresholded kernel returns −1 above
  * `dMax = floor(headChars·maxFrac) ≥` every per-pair bound, so the
  * ≥ 0 guard plus the per-pair bound filter is exactly the unbanded
  * semantics at a fraction of the DP cells. Exact, no recall loss:
  * the segment window covers every within-budget pair, and
  * length-banding (`|lenA − lenB| ≤ τ`) is implied by
  * `lev ≥ |lenA − lenB|`.
  */
object EditDistance {

  /** (doc1, doc2, dist): unordered pairs within the normalized head
    * edit-distance bound. Deterministic; `dist` is exact.
    * `hotDf`/`hotFrac`/`skewSampleFrac`/`extraSegs`/`hotDfCap` tune
    * the hot-segment router (see Scaladoc); every candidate route is
    * exact, so they affect cost only. The effective hot threshold is
    * `clamp(hotFrac·n, hotDf, hotDfCap)`: relative for small corpora
    * (df ≈ n/vocab genuinely tracks n there), CAPPED because what the
    * threshold guards is per-key join cost — an absolute quantity —
    * and in large corpora per-key df stops tracking n (growth adds
    * new template families, not proportionally bigger ones; round
    * 10's sf10 run measured the uncapped threshold disabling
    * suppression entirely and writing the disk full). Over-marking
    * under the cap is harmless: each head drops at most its `spare`
    * costliest hot segments and keeps the rest — exactness never
    * depends on the threshold. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxFrac: Double = 0.1, headChars: Int = 80,
                        hotDf: Int = 64, skewSampleFrac: Double = 0.1,
                        extraSegs: Int = 2, hotFrac: Double = 0.05,
                        hotDfCap: Int = 256,
                        blockTarget: Long = 2000000L): DataFrame =
    stages(df, idCol, textCol, maxFrac, headChars, hotDf, skewSampleFrac,
      extraSegs, hotFrac, hotDfCap, blockTarget)("result")

  /** [[editDistancePairs]] with `extraSegs` CHOSEN BY MEASUREMENT:
    * walks `ladder` and takes the first rung whose predicted
    * candidate-join volume fits `n · candPerDoc` (falling back to the
    * last rung). The prediction is Σ over join keys of
    * segsDf · probeDf — the exact row count the candidate join will
    * emit — estimated from the operator's own stage frames: the full
    * segment index joined against the `skewSampleFrac` head-sampled
    * probe enumeration, scaled by 1/p (per key the sampled probe df
    * is Binomial(df, p), so the scaled sum is unbiased; keys whose
    * sample is empty are small by construction and only make the
    * estimate conservative). Every rung emits IDENTICAL output (the
    * knob-grid artifact: `extraSegs` affects cost only — exactness is
    * pigeonhole-guaranteed at any rung), so the choice needs no
    * recall reasoning, just cost.
    *
    * Motivation (the round-11 stress corpora): a corpus whose shared
    * boilerplate spans more segments than `spare = c − (d+1)` can
    * drop keeps corpus-hot keys in the candidate join, and a kept hot
    * key joins df² rows — the default rung predicted 751 B candidate
    * rows on the adversarial all-near-identical corpus (a disk fill),
    * while `extraSegs = 11` predicted 275 M and ran exactly in
    * minutes. This wrapper makes that measurement the operator's own
    * first step instead of a post-mortem.
    *
    * UNLIKE the base operator, construction RUNS Spark jobs (one
    * sampled aggregation per probed rung — most corpora stop at the
    * first); callers that need plan-only laziness use
    * [[editDistancePairs]] directly. */
  def editDistancePairsAuto(df: DataFrame, idCol: String, textCol: String,
                            maxFrac: Double = 0.1, headChars: Int = 80,
                            hotDf: Int = 64, skewSampleFrac: Double = 0.1,
                            hotFrac: Double = 0.05, hotDfCap: Int = 256,
                            candPerDoc: Long = 50000,
                            ladder: Seq[Int] = Seq(2, 5, 8, 11),
                            blockTarget: Long = 2000000L): DataFrame =
    editDistancePairs(df, idCol, textCol, maxFrac, headChars, hotDf,
      skewSampleFrac,
      chooseExtraSegs(df, idCol, textCol, maxFrac, headChars, hotDf,
        skewSampleFrac, hotFrac, hotDfCap, candPerDoc, ladder),
      hotFrac, hotDfCap, blockTarget)

  /** The rung decision behind [[editDistancePairsAuto]], exposed so
    * specs and measurement tools can observe WHICH rung a corpus
    * routes to. Runs one sampled-aggregation job per probed rung. */
  private[graft] def chooseExtraSegs(df: DataFrame, idCol: String, textCol: String,
                                     maxFrac: Double = 0.1, headChars: Int = 80,
                                     hotDf: Int = 64, skewSampleFrac: Double = 0.1,
                                     hotFrac: Double = 0.05, hotDfCap: Int = 256,
                                     candPerDoc: Long = 50000,
                                     ladder: Seq[Int] = Seq(2, 5, 8, 11)): Int = {
    require(ladder.nonEmpty, "extraSegs ladder must be non-empty")
    val p = math.min(1.0, math.max(1e-6, skewSampleFrac))
    val budget = (df.count().max(1L)).toDouble * candPerDoc.toDouble
    ladder.take(ladder.length - 1).find { es =>
      val st = stages(df, idCol, textCol, maxFrac, headChars, hotDf,
        skewSampleFrac, es, hotFrac, hotDfCap)
      val a = st("segsIndexed").groupBy("__k").agg(count(lit(1)).as("__a"))
      val b = st("probeSample").groupBy("__k").agg(count(lit(1)).as("__b"))
      val est = a.join(b, Seq("__k"))
        .agg(sum(col("__a") * col("__b")).cast("double").as("__v"))
        .first() match {
          case r if r.isNullAt(0) => 0.0
          case r => r.getDouble(0) / p
        }
      est <= budget
    }.getOrElse(ladder.last)
  }

  /** Every intermediate frame by name ("heads", "segs", "probe",
    * "probeSample", "hotKeys", "dropSet", "segsIndexed", "verified",
    * "result") — the operator's own construction, exposed so
    * measurement tools (and [[editDistancePairsAuto]]'s volume
    * predictor) profile THE SHIPPED PIPELINE instead of a hand-synced
    * copy (an earlier copy drifted from the operator twice in one
    * round). */
  private[graft] def stages(df: DataFrame, idCol: String, textCol: String,
                        maxFrac: Double = 0.1, headChars: Int = 80,
                        hotDf: Int = 64, skewSampleFrac: Double = 0.1,
                        extraSegs: Int = 2, hotFrac: Double = 0.05,
                        hotDfCap: Int = 256,
                        blockTarget: Long = 2000000L): Map[String, DataFrame] = {
    require(headChars >= 1, s"headChars must be >= 1, got $headChars")
    require(maxFrac >= 0 && maxFrac < 0.5, s"maxFrac must be in [0, 0.5), got $maxFrac")
    require(extraSegs >= 0, s"extraSegs must be >= 0, got $extraSegs")
    require(hotFrac > 0 && hotFrac <= 1, s"hotFrac must be in (0, 1], got $hotFrac")
    require(blockTarget >= 1, s"blockTarget must be >= 1, got $blockTarget")
    val keep = 1 - maxFrac

    // per-length partition parameters as SQL over a length expression.
    // ceil on olenMax keeps every float rounding on the SUPERSET side
    // (a candidate set too large costs time; too small loses pairs).
    // D-suffixed literals matter: a bare `0.9` parses as DECIMAL and
    // drags the whole lambda tree onto boxed decimal arithmetic —
    // measured 50 s for the probe enumeration vs ~2 s on doubles.
    def olenMax(lp: String) = s"least($headChars, cast(ceil(($lp) / ${keep}D) as int))"
    def dOf(lp: String) = s"cast(floor(${olenMax(lp)} * ${maxFrac}D) as int)"
    // segment scheme for a length-lp head as the SHORTER side: c
    // segments, first c-k of width lp div c, last k = lp mod c one
    // wider. Both sides derive (start, width) from (lp, i) alone, so
    // the emitter and the enumerator can never disagree.
    // c = d+1+extraSegs over-partitions for hot-segment suppression
    // (see Scaladoc), capped at lp so segments stay non-empty (the
    // inner greatest keeps the pigeonhole minimum d+1 even for heads
    // shorter than d+1 — only reachable at maxFrac > 0.4, where
    // zero-width segments degrade cost, never exactness).
    def cOf(lp: String) =
      s"greatest(least(${dOf(lp)} + 1 + $extraSegs, $lp), ${dOf(lp)} + 1)"
    def wBase(lp: String, c: String) = s"(($lp) div ($c))"
    def segW(lp: String, c: String, i: String) =
      s"(${wBase(lp, c)} + if(($i) > ($c) - (($lp) % ($c)), 1, 0))"
    def segP(lp: String, c: String, i: String) =
      s"((($i) - 1) * ${wBase(lp, c)} + greatest(0, ($i) - 1 - (($c) - (($lp) % ($c)))) + 1)"

    // ONE slim cached row per head: every downstream frame (segments,
    // probe enumerations, band lookup, verify sides) derives from this
    // cache with a single projection/explode. The cache is tracked
    // (Dedup.cachedCorpus), so the harness-level releaseCaches()
    // reclaims it between queries.
    graft.functions.GraftFunctions.register(df.sparkSession)
    // __sig: 16-nibble saturating char-class counts (CharCountSig) —
    // computed ONCE per head here, it rides both join sides as one
    // long so the fused verify can refute most candidates with a
    // 16-nibble L1 bound (ed ≥ nibbleL1/2) before paying the banded
    // DP. Cost: 8 bytes per cached/shuffled head row.
    // workHint 64: every cached head feeds the probe ENUMERATION
    // (~(τ+1)²·c ≈ hundreds of generated rows per head — the operator's
    // dominant map cost) plus the segment explode and three sampled
    // enumerations, all narrow over THIS cache's partitioning. The r19
    // census measured the enumeration at 5.65 s on ONE task behind a
    // 580 KB scan (31 cores idle) because the plain 4 MiB spread gate
    // never fired at sf0.1-class inputs.
    val heads = Dedup.cachedCorpus(graft.Parallelism.spread(df, 64)
      .select(col(idCol).as("id"),
        substring(col(textCol), 1, headChars).as("__h"))
      .withColumn("__len", length(col("__h")))
      .withColumn("__sig",
        graft.functions.GraftFunctions.charCountSig(col("__h"))))
    val nonEmpty = heads.filter(col("__len") >= 1)

    // indexed side: the c(L) fixed-position segments of each head
    // (its shorter-side partition). O(d+1) rows per head, carrying the
    // head string so verification can run INSIDE the candidate join
    // stage (see below) — the string rides the small build side.
    // __k = xxhash64(len, seg, content) is the JOIN key: both sides
    // already carry their full head for the fused verify, so the raw
    // (__lp, __i, __s) key triple — an int, an int, and an up-to-
    // headChars string — can collapse to one 64-bit hash. The probe
    // side (the volume: ~(tau+1)·c·(tau+1) rows per head) then
    // shuffles 8 bytes of key instead of ~width bytes of segment
    // content plus two ints, and the join hashes/compares longs
    // instead of strings. A hash collision only ADDS a candidate row,
    // which the in-join banded levenshtein refutes — exactness never
    // rests on the key.
    def segsOf(h: DataFrame): DataFrame = h.select(col("id"), col("__h"), col("__sig"),
      col("__len").as("__lp"),
      explode(expr(
        s"""transform(sequence(1, ${cOf("__len")}),
            i -> struct(i as __i,
                        substring(__h, ${segP("__len", cOf("__len"), "i")},
                                       ${segW("__len", cOf("__len"), "i")}) as __s))"""))
        .as("__seg"))
      .select(col("id"), col("__h"), col("__sig"), col("__lp"),
        col("__seg.__i").as("__i"), col("__seg.__s").as("__s"),
        xxhash64(col("__lp"), col("__seg.__i"), col("__seg.__s")).as("__k"))
    val segs = segsOf(nonEmpty)

    // probe side: for every admissible shorter length lp, segment i of
    // the lp-partition, and exact-window shift s (|s| + |delta - s| <=
    // tau), the would-be image content. Duplicate (lp, i, content)
    // hits from different shifts are NOT collapsed here: array_distinct
    // over struct elements is a quadratic pairwise-comparison fallback
    // (~|enum|² ≈ 250k struct compares per head — measured 45 s of the
    // 50 s probe wall by itself) while letting the ~10% duplicate rows
    // ride costs a few redundant banded DPs absorbed by the
    // post-verify distinct. Position validity (start >= 1,
    // start + w - 1 <= L) is enforced by the filter() inside the
    // enumeration. The per-length
    // constants (d, segment base width, wide-segment cutoff, shift
    // window) are STAGED into structs so each is computed once per
    // admissible length, not once per (length, segment, shift) — the
    // naive nesting re-evaluated the ceil/floor tower ~c·(tau+1) times
    // per length and measured 25x slower.
    def probeOf(h: DataFrame): DataFrame = h
      .select(col("id"), col("__h"), col("__sig"), col("__len"), explode(expr(
        s"""flatten(transform(
              transform(
                transform(
                  transform(
                    sequence(__len - cast(floor(__len * ${maxFrac}D) as int), __len),
                    lp -> struct(lp as lp, ${dOf("lp")} as d)),
                  t -> struct(t.lp as lp,
                              greatest(least(t.d + 1 + $extraSegs, t.lp), t.d + 1) as c)),
                u -> struct(u.lp as lp,
                            u.c as c,
                            cast(floor(__len * ${maxFrac}D) as int) as tau,
                            (__len - u.lp) as dlt,
                            (u.lp div u.c) as wb,
                            (u.c - (u.lp % u.c)) as ck,
                            cast(ceil(((__len - u.lp) - cast(floor(__len * ${maxFrac}D) as int)) / 2.0D) as int) as slo,
                            ((__len - u.lp) + cast(floor(__len * ${maxFrac}D) as int)) div 2 as shi)),
              r -> filter(
                flatten(transform(sequence(1, least(r.c, r.tau + 1 + $extraSegs)),
                  i -> transform(
                    filter(sequence(r.slo, r.shi),
                      s -> s >= r.dlt - (r.tau - i + 1 + $extraSegs)
                       and s <= r.dlt + (r.tau - i + 1 + $extraSegs)),
                    s -> struct(r.lp as __lp, i as __i,
                                ((i - 1) * r.wb + greatest(0, i - 1 - r.ck) + 1 + s) as __p,
                                (r.wb + if(i > r.ck, 1, 0)) as __w)))),
                x -> x.__p >= 1 and x.__p + x.__w - 1 <= __len)))"""))
        .as("__e"))
      .select(col("id"), col("__h"), col("__sig"), col("__len"),
        col("__e.__lp").as("__lp"),
        expr("xxhash64(__e.__lp, __e.__i, substring(__h, __e.__p, __e.__w))")
          .as("__k"))
      // prune enumerated lengths that EXIST IN NO HEAD: the window
      // enumerates every admissible shorter length lp in [L-tau, L],
      // but a probe row for an lp with zero indexed heads can never
      // match — it only costs shuffle. The distinct head-length set is
      // <= headChars values (bytes, broadcastable at any corpus size);
      // the left-semi BHJ runs BEFORE the probe exchange, so dead rows
      // die in the map stage. On a fixed-length corpus (every head
      // exactly headChars - the round-11 stress corpora, and the bulk
      // of the sf10 bench corpus) this cuts the probe volume up to
      // (tau+1)-fold.
      .join(broadcast(nonEmpty.select(col("__len").as("__lp")).distinct()),
        Seq("__lp"), "left_semi")
      .drop("__lp")
    // NOTE the shift window uses the PAIR-TRUE budget tau =
    // floor(__len * maxFrac): the probe is the LONGER member by
    // construction (lp <= __len), so max(lenA, lenB) = __len and tau
    // is exactly the bound the verify enforces. Earlier rounds used
    // the superset tau' = d(lp) = floor(olenMax(lp) * maxFrac) >= tau
    // (the largest budget ANY admissible longer partner of lp could
    // grant — correct but loose by up to ceil(1/(1-maxFrac)) when
    // this head is shorter than lp's worst-case partner); the round-10
    // sf10 run showed the candidate constant (~8,000 banded-DP
    // refutations per emitted pair) is the suite's dominant cost, and
    // the pair-true budget shrinks the shift window AND truncates the
    // segment enumeration (windows are empty for i > tau+1+spare, so
    // the sequence stops there) with zero recall loss. The segment
    // GEOMETRY (c, widths, positions) still derives from d(lp) alone —
    // both sides must agree on the partition, and the indexed side
    // cannot know its partner's length.
    // The per-segment filter is PassJoin's multi-match-aware
    // tightening, composed with the top-spare drop below under the
    // FIRST-INTACT-NON-DROPPED convention: every admissible pair has
    // >= c-tau >= spare+1 intact segments, so some intact NON-dropped
    // segment i** exists; its predecessors are non-intact segments
    // (>= 1 edit each — an edit touches at most one segment) plus at
    // most `spare` dropped-intact ones, so editsBefore >= i**-1-spare
    // (hence i** <= tau+1+spare, the truncation above), and with
    // editsAfter >= |delta - s| the window at segment i is
    // s in [delta - (tau-i+1+spare), delta + (tau-i+1+spare)]. The
    // pair is caught at i**; other intact segments may fall outside
    // their windows, which costs nothing. NOT the textbook
    // first-intact bound (tau-i+1): that one is sound only WITHOUT
    // segment dropping, and composing it with the drop lost 54% of
    // sf10's pairs in a cross-check (598,018 vs 1,313,994 rows) while
    // every sf0.1-scale spec stayed green — the hot-prefix spec now
    // pins the composition directly.
    val probe = probeOf(nonEmpty)

    // hot-segment router: sampled per-(lp, i, content) document
    // frequency on the probe side — the side whose multiplicity
    // explodes candidates. Heads are sampled BEFORE the enumeration:
    // per key the surviving count is Binomial(df, p) either way, but
    // the explode then runs over p·n heads instead of all of them.
    val p = math.min(1.0, math.max(1e-6, skewSampleFrac))
    val headSample =
      if (p >= 1.0) nonEmpty
      else nonEmpty.sample(withReplacement = false, p, seed = 42L)
    val probeSample = probeOf(headSample)
    // hot threshold clamp(hotFrac·n, hotDf, hotDfCap), with the corpus
    // size riding IN-PLAN as a broadcast one-row totals frame
    // (ScalarAttach, the TF-IDF discipline): a driver-side
    // `heads.count()` here made CONSTRUCTING the DataFrame launch a
    // scan+cache job, so plan-only consumers (the full-registry plan
    // audit, docs/PLANS.md regeneration) paid a corpus scan per query
    // built. At execution the aggregate is a scan of the already-cached
    // heads either way.
    //
    // WHY the cap (the round-10 sf10 lesson — the uncapped relative
    // threshold 0.05·n = 25,000 at sf10 sat above EVERY real key's df,
    // disabling suppression exactly where its absolute economics
    // matter, and the un-suppressed candidate join wrote >78 GB of
    // shuffle): what the threshold guards is per-key JOIN COST — a key
    // with segs-df a and probe-df b contributes a·b candidate rows and
    // banded DPs, an ABSOLUTE quantity independent of corpus size. And
    // per-key df does not in general grow ∝ n: growing corpora add NEW
    // template families rather than proportionally bigger ones (the
    // ScaleUp test-data replicas model exactly this — disjoint
    // per-replica vocabularies hold per-key df constant while n grows
    // 100×). The relative term stays for small corpora, where df ≈
    // n/vocab genuinely tracks n; the cap keeps suppression live at
    // scale; and the corpus where everything is merely-common no
    // longer fears over-suppression, because the divert fallback below
    // is cost-routed instead of unconditionally corpus-wide.
    val totalsN = heads.agg(count(lit(1)).cast("double").as("__n"))
    val hotKeys = broadcast(graft.operators.ScalarAttach.attach(
        probeSample.groupBy("__k").agg(count(lit(1)).as("__df")),
        totalsN)
      .filter(col("__df") >
        least(greatest(lit(hotFrac) * col("__n"), lit(hotDf.toDouble)),
          lit(hotDfCap.toDouble)) * p)
      .select(col("__k"), col("__df")))
    // PER-HEAD TOP-SPARE DROP — the suppression rule, and the only
    // one: each head may leave up to `spare = c − (d+1)` of its
    // segments un-indexed and remain fully covered, because any
    // admissible edit script destroys ≤ τ ≤ d segments, so ≥ c − d =
    // spare + 1 stay intact and at least one intact segment is still
    // indexed. WHICH segments to withhold is therefore a free choice —
    // so withhold the COSTLIEST: rank each head's hot segments by
    // sampled probe-side df and drop the top `spare`. This replaces
    // round 9's all-or-nothing divert (suppress every hot row, else
    // send the whole head to a corpus-wide length-band join): at sf10
    // the bench corpus put 82% of heads over the divert limit, and
    // BOTH fallbacks go quadratic when most of the corpus takes them
    // (band: |divert|·|band|, both ∝ n; keep-all: Σ hot-df with df ∝
    // n). Top-spare keeps every head on the keyed join, removes each
    // head's worst keys, and needs no fallback at all. A head with
    // more hot segments than spare keeps its cheapest hot rows —
    // bounded damage the fused verify below absorbs.
    val spare = expr(s"${cOf("__lp")} - (${dOf("__lp")} + 1)")
    val dropSet = segs
      .join(hotKeys, Seq("__k"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(desc("__df"), col("__i"))))
      .filter(col("__rk") <= spare)
      .select("id", "__i")
    val segsIndexed = segs.join(dropSet, Seq("id", "__i"), "left_anti")

    // Candidate join + FUSED verification, one stage. Two lessons the
    // round-10 sf10 run paid for in full:
    //  - SHUFFLE HASH, not sort-merge: the probe side is the volume
    //    (~(τ+1)²·c rows per head) and a sort-merge join SORTS it —
    //    the sort spill alone wrote ~3× the shuffle bytes. The segs
    //    build side is c rows per doc, uniformly hashed over
    //    (len, seg, content) keys — exactly the shape shuffled-hash
    //    wants; AQE's skew mitigation still applies to SHJ.
    //  - VERIFY INSIDE THE JOIN STAGE: on a low-entropy corpus the
    //    candidate multiset is orders of magnitude larger than the
    //    output (10.7 B rows at sf10 against 407 M probe rows), and
    //    round 9's join-then-attach-heads plan shuffled those rows
    //    THREE more times (hA join, hB join, distinct) — >150 GB of
    //    disk for rows that exist only to be refuted. With both head
    //    strings riding the join inputs, the banded `levenshtein(a, b,
    //    dMax)` kernel (Ukkonen band, O((2·dMax+1)·len) cells, early
    //    exit — exact for every pair the bound filter could keep, −1
    //    guarded below only for pairs the full kernel would discard)
    //    filters candidates AS THE JOIN EMITS THEM: nothing but
    //    verified survivors is ever shuffled again, and the
    //    `distinct()` (a pair can meet on several intact segments)
    //    runs over those survivors. The probe side pays the head
    //    string on its one shuffle (~2× row width, template text
    //    compresses well under lz4); the candidate stream pays zero.
    // The pair bound uses the PROBE head's length: the probe is the
    // longer member by construction (lp ≤ __len), so
    // max(lenA, lenB) = __lenB.
    // The count-signature prefilter runs FIRST on each emitted
    // candidate: nibbleL1(sigA, sigB) ≤ 2·ed (CharCountSig Scaladoc),
    // so L1 > 2·floor(lenB·maxFrac) — the exact per-pair bound the
    // final filter enforces — refutes at ~16 nibble ops instead of
    // the banded DP's O((2·dMax+1)·len) cells. CaseWhen guarantees
    // the DP is evaluated only for survivors (a bare AND conjunction
    // could be reordered by the optimizer). Sound, never lossy: every
    // within-bound pair satisfies the L1 bound, so emitted pairs and
    // distances are identical with or without the prefilter.
    // GIANT-KEY BLOCK SPLIT (round 12) — the backstop for the one
    // honest limit the round-11 stress artifact recorded: a key hot
    // on BOTH sides lands its entire a·b candidate stream in ONE hash
    // partition, and AQE cannot split inside a key (its skew splitter
    // works at partition granularity over map outputs, but a
    // replicated-build SHJ stage for one key is not what it plans
    // here). The fix fuses a BLOCK ID into the join key (the SemDedup
    // blocked trick, similarity/SemDedup.scala, made ONE-SIDED): for
    // keys whose SAMPLED candidate product a·b/p² exceeds
    // 4·blockTarget, the PROBE side — the volume, ~(τ+1)·shifts·c
    // rows per head — tags each row with its OWN doc-hash block
    // (a pure projection: when(B isNull, 0) else pmod(hash, B) — no
    // generate, no array allocation on the hot path), and only the
    // SEGS side (c rows per doc, ~10× smaller) replicates giant-key
    // rows once per probe block. A pair meets at exactly
    // (__k, block(probe doc)), so the candidate MULTISET is unchanged
    // (exactness untouched) while the giant key's stream spreads over
    // B = ceil(prod/blockTarget) sub-keys of ~blockTarget candidates
    // each; build rows per sub-key stay exactly a (one replica each).
    // Candidacy is restricted to keys already in the broadcast
    // hotKeys frame, whose sampled probe-df rides along as __df: on a
    // fixed-length corpus a giant key (a·b > 4·blockTarget with
    // a ≤ n) has probe-df far above the clamped hot threshold —
    // identical heads probe each other at shift 0, so b ≥ a. On
    // MIXED-length corpora (per-head τ < the corpus-max d) the probe
    // enumeration truncates segment indices at τ+1+extraSegs while
    // the segs side emits all c, so a high-index segment key hot only
    // via long heads can in principle evade hotKeys and skip the
    // split — safe (it falls back to exactly the pre-split
    // single-partition behavior), just not covered by the shift-0
    // argument. The restriction lets the detector reuse the ONE
    // existing sampled aggregation instead of re-aggregating the full
    // sampled probe, with the segs-sample
    // count reduced to a broadcast-filtered tiny groupBy. The sampled
    // product over-estimates under correlation (a head contributes
    // both sides) and misses only keys too small to matter — both
    // errors point the safe way: a missed giant key falls back to
    // exactly the pre-split behavior.
    val segsSample = segsOf(headSample)
    val giantKeys = broadcast(
      segsSample.join(hotKeys, Seq("__k"))
        .groupBy("__k").agg(count(lit(1)).as("__a"), max(col("__df")).as("__b"))
        .withColumn("__prod", col("__a").cast("double") * col("__b") / lit(p * p))
        .filter(col("__prod") > lit(4.0 * blockTarget))
        .select(col("__k"),
          least(ceil(col("__prod") / lit(blockTarget.toDouble)), lit(256L))
            .cast("int").as("__B")))
    // SEGS-SIDE GIANT DETECTION (round 14) — closes the mixed-length
    // evasion the r12 comment could only describe: on corpora whose
    // lengths straddle the probe truncation (per-head τ < d(lp)), a
    // HIGH-INDEX segment key can be shared by ~every head of its
    // length class (segs side emits all c segments) while being
    // enumerated only by probes long enough to reach its index
    // (i ≤ τ+1+extraSegs) — so its probe-df sits under the hot
    // threshold, it evades hotKeys (and with it both the drop and the
    // hot-based giant split above), and its a·b candidate stream —
    // bounded only by n·hotThreshold — lands in ONE task
    // (BENCH_editdist_evasion_r14.json measures the serialization).
    // Detection therefore must START from the segs-side sampled df:
    // keys whose sampled segs count alone makes a giant product
    // POSSIBLE (a/p > blockTarget/hotDfCap — an evader's probe-df is at most
    // ~the clamp, else it would be hot) and that are NOT already
    // handled via hotKeys are assigned B from the segs-side count
    // alone, with the probe-df BOUNDED by hotDfCap rather than
    // recounted (the rejected-recount history and its measured cost
    // are in the next comment), and the usual product rule assigns
    // B. Exactness is indifferent (the block split is exact at any B,
    // forced-path spec), detection affects COST only: it won 0.88×
    // on the evasion corpus and sat at parity on the dormant sf10
    // corpus (BENCH_editdist_evasion_r14.json,
    // BENCH_editdist_dormant_ab_r14.json), so it always runs.
    // b is NOT recounted: an evader's probe-df is at most ~the clamp
    // (above it the key would be hot and handled upstream), so
    // b-hat = hotDfCap bounds it and the product rule runs on the
    // segs side alone. Overestimating B is CHEAP under the flipped
    // split below — the segs side is only TAGGED (never replicated)
    // and the probe side replicates at most b·B <= hotDfCap·256 rows
    // PER FLIPPED KEY (total replication scales with the number of
    // flipped keys, but each key's replication is dwarfed by its own
    // a·b candidate stream) — while recounting b cost a second sampled probe
    // ENUMERATION, measured at ~1.5x the serialized tail it was
    // buying back (BENCH_editdist_evasion_r14.json, nShort = 2M: on
    // 253 s vs off 165 s with the recount; the enumeration, not the
    // aggregation, is the probe side's dominant map cost).
    val giantKeys2 = broadcast(
      segsSample.groupBy("__k").agg(count(lit(1)).as("__a2"))
        .filter(
          col("__a2").cast("double") / lit(p) * lit(hotDfCap.toDouble) >
            lit(4.0 * blockTarget))
        .join(hotKeys.select("__k"), Seq("__k"), "left_anti")
        .select(col("__k"),
          least(ceil(col("__a2").cast("double") / lit(p) * lit(hotDfCap.toDouble) /
            lit(blockTarget.toDouble)), lit(256L)).cast("int").as("__B")))
    // FLIPPED SPLIT for segs-heavy giants: the r12 probe-tagged split
    // replicates the SEGS side once per block — correct when the probe
    // side is the volume (hot-hot giants: b >= threshold, blocks thin
    // the probe stream and the per-block SHJ build stays the key's
    // a ~ thousands). An EVASION giant is the opposite shape: a ~ n,
    // b under the hot threshold — probe-tagging would build B copies
    // of an n-row hash map (measured: SparkOutOfMemoryError in the
    // SHJ build at nShort = 2M, B = 200, while the UNSPLIT path
    // survived with one big map and the serialized tail;
    // BENCH_editdist_evasion_r14.json). So giantKeys2 keys split the
    // OTHER way round: the SEGS side tags its own doc-hash block (a
    // pure projection inside the Generate it already pays — per-block
    // build a/B rows)
    // and the PROBE side replicates once per block. HOW the probe
    // replicates matters as much as which side: a second probe scan
    // to slice out the flip rows re-runs the probe ENUMERATION — the
    // probe side's dominant map cost — and measured ~1.5-2x the
    // serialized tail it bought back; a Generate over the full probe
    // stream was the r12 two-sided variant, rejected at a 12-17%
    // dormant tax. Instead the tiny giantKeys2 frame is pre-EXPLODED
    // to (key, block) rows (<= keys·256, broadcast), and the probe's
    // existing broadcast-join fan-out does the replication: non-flip
    // rows miss (one row, null __pb2), flip rows match B times — one
    // scan, no Generate, replication only where it is due. Pairs
    // still meet exactly once (each segs row in one block, each probe
    // row in all blocks). A key giant on BOTH sides at a, b >
    // blockTarget would need a 2-D grid split neither one-sided
    // scheme provides — its candidate volume (> blockTarget²) is
    // disk-fill territory the chooser's volume predictor refuses
    // long before memory does.
    val giant2ex = broadcast(giantKeys2
      .withColumn("__pb2", explode(expr("sequence(0, __B - 1)")))
      .select(col("__k"), col("__pb2")))
    val segsSide = segsIndexed.select("id", "__h", "__sig", "__k")
      .join(giantKeys2.withColumnRenamed("__B", "__B2"), Seq("__k"), "left")
      .join(giantKeys, Seq("__k"), "left")
      .withColumn("__pb", explode(
        when(col("__B2").isNotNull,
          array(pmod(xxhash64(col("id")), col("__B2")).cast("int")))
        .when(col("__B").isNotNull, expr("sequence(0, __B - 1)"))
        .otherwise(array(lit(0)))))
      .select(col("id"), col("__h"), col("__sig"), col("__k"), col("__pb"))
    val probeSide = probe
      .join(giant2ex, Seq("__k"), "left")
      .join(giantKeys, Seq("__k"), "left")
      .withColumn("__pb", coalesce(col("__pb2"),
        when(col("__B").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("id")), col("__B")).cast("int"))))
      .select(col("id").as("id2"), col("__h").as("__hB"),
        col("__sig").as("__sigB"), col("__len").as("__lenB"),
        col("__k"), col("__pb"))

    val dMax = math.floor(headChars * maxFrac).toInt
    // USER-SPECIFIED repartition on the join keys, both sides — NOT
    // left to EnsureRequirements. AQE's partition coalescing sizes
    // post-shuffle partitions by MAP-OUTPUT BYTES, and this join's
    // inputs are tiny precisely when the candidate stream is huge:
    // low-entropy boilerplate compresses 10-20× under lz4, so on the
    // giant-key stress corpus AQE read ~the whole shuffle as "one
    // advisory partition" and merged the block split's B sub-keys
    // back into a couple of tasks — re-creating, one layer up, the
    // exact single-task skew the split exists to remove (measured:
    // the blocked join ran as a straggler tail, load 31 → 6, >55 min
    // where the spread shape needs ~minutes). The candidate explosion
    // happens INSIDE the join, invisible to byte-based coalescing, so
    // byte-based coalescing must not own this exchange: an explicit
    // numPartitions repartition is the one plan-level scoping Spark
    // offers (AQE never coalesces user-specified repartitions), and
    // the SHJ reuses the co-partitioning, so the exchange count is
    // unchanged on every corpus.
    val shufP = df.sparkSession.sessionState.conf.numShufflePartitions
    val verified = segsSide.repartition(shufP, col("__k"), col("__pb"))
      .hint("shuffle_hash")
      .join(probeSide.repartition(shufP, col("__k"), col("__pb")),
        Seq("__k", "__pb"))
      .filter(col("id") =!= col("id2"))
      .withColumn("dist",
        when(graft.functions.GraftFunctions.nibbleL1(col("__sig"), col("__sigB")) >
            lit(2) * floor(col("__lenB") * maxFrac), lit(-1L))
          .otherwise(levenshtein(col("__h"), col("__hB"), dMax).cast("long")))
      .filter(col("dist") >= 0 &&
        col("dist") <= floor(col("__lenB") * maxFrac))
      .select(least(col("id"), col("id2")).as("doc1"),
        greatest(col("id"), col("id2")).as("doc2"), col("dist"))

    // empty heads sit outside the segment scheme (a zero-length head
    // has no segments and an empty probe window) and pair exactly with
    // each other at dist 0: lev("", y) = len(y) ≤ floor(len(y)·maxFrac)
    // forces len(y) = 0 for maxFrac < 1. A keyed self-join on the
    // constant length — their true output is quadratic in their count,
    // like any verbatim-duplicate family.
    val empties = heads.filter(col("__len") === 0)
    val emptyPairs = empties.select(col("id").as("doc1"), col("__len"))
      .join(empties.select(col("id").as("doc2"), col("__len")), Seq("__len"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), lit(0L).as("dist"))

    val result = verified.unionByName(emptyPairs).distinct()
    Map("heads" -> heads, "segs" -> segs, "probe" -> probe,
      "probeSample" -> probeSample, "hotKeys" -> hotKeys,
      "dropSet" -> dropSet, "segsIndexed" -> segsIndexed,
      "giantKeys" -> giantKeys, "giantKeys2" -> giantKeys2,
      "verified" -> verified, "result" -> result)
  }
}
