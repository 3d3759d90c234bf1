package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.similarity.{Cosine, Ivf, Pq, SemDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup + similarity-search queries (SURVEY.md §2 #40–46) over
  * `documents` and `embeddings`. */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Embeddings ∪ deterministic near-dup copies: every vec_id % 10 == 0
    * row gets a copy (id + 1000000) with dimension (vec_id % 64) scaled
    * by 1.25 — in DOUBLE, after the float cast, so DuckDB reproduces it
    * bit-for-bit. cos(v, copy) = (1 + 0.25f)/sqrt(1 + 0.5625f) for f =
    * that dim's energy fraction ⇒ ≥ 0.9938 whatever the data. */
  private def plantedNearDups(e: DataFrame): DataFrame = {
    val orig = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val copies = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("""transform(embedding, (x, j) ->
                 CASE WHEN j = CAST(vec_id % 64 AS INT)
                      THEN CAST(x AS DOUBLE) * 1.25
                      ELSE CAST(x AS DOUBLE) END)""").as("embedding"))
    orig.unionByName(copies)
  }

  /** The bounded edit-distance pair set at one `extraSegs` rung,
    * memoized across the family through [[graft.SharedFrames]] (lazy
    * entry — no jobs at registration; see the q_dedup_editdist
    * registration comment). Keyed on the rung plus the fixed family
    * parameters, so the base query and an auto query that routes to
    * the same rung share one construction, while a corpus the chooser
    * routes elsewhere gets its own entry. */
  private def editdistPairsShared(s: SparkSession, dir: String,
                                  extraSegs: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.SharedFrames.getOrComputeLazy("editdist_pairs", Seq(docs),
      Seq("doc_id", "text", 0.1, 80, extraSegs)) {
      graft.dedup.EditDistance.editDistancePairs(docs, "doc_id", "text",
        maxFrac = 0.1, headChars = 80, extraSegs = extraSegs)
    }
  }

  val queries: Map[String, Q] = Map(
    // #40 exact dedup (content hash survival map).
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text").orderBy("h")),

    // #43 exact n-gram Jaccard pairs via the threshold-aware router:
    // at t = 0.2 (below the banding recall boundary ~0.69) it selects
    // an EXACT join — recall 1 by construction: the direct shingle
    // self-join on this flat-df corpus, the prefix-filtered variant
    // when measured hot-shingle skew dominates the pair fan-out.
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairsAuto(Tables.documents(s, dir), "doc_id", "text",
        k = 3, threshold = 0.2)
        .orderBy("doc1", "doc2")),

    // #43b the same router at a genuine near-dup bar (t = 0.8): selects
    // the banded MinHash→exact-verify composition — (band, bh)
    // equi-join candidates, per-pair miss ≤ 6e-15 at the threshold, the
    // shape you'd run at 100 TB.
    "q_dedup_ngram_banded" -> ((s, dir) =>
      Dedup.ngramJaccardPairsAuto(Tables.documents(s, dir), "doc_id", "text",
        k = 3, threshold = 0.8)
        .orderBy("doc1", "doc2")),

    // #82 bounded edit-distance join on 80-char heads: PassJoin
    // position-aware partition matching (PVLDB '11) — fixed-position
    // segments on the indexed side, exact shift-window substring
    // enumeration on the probe side, (len, seg, content)-keyed
    // shuffle, no all-pairs; over-partitioning lets each head DROP its
    // `spare` costliest hot (boilerplate) segments at zero recall loss
    // — suppression only, there is NO corpus-wide fallback join — with
    // the codegen'd banded levenshtein verify fused into the candidate
    // join stage. The character-level near-dup family token-set
    // similarity can't see. Exact (suppression never loses a pair by
    // pigeonhole), so the quadratic DuckDB formulation is a hash
    // oracle.
    // Both editdist queries route through ONE SharedFrames entry keyed
    // on the resolved extraSegs rung: the base query at the default
    // rung, the auto query at whatever its measured chooser picks — on
    // corpora where the chooser lands on the default (every benign
    // corpus) the family pays the pipeline ONCE, the dsir_weights
    // amortization pattern. The entry is a LAZY
    // localCheckpoint, so registration stays jobless (the plan audit
    // builds the whole registry) and the pipeline cost lands inside
    // whichever query's timing triggers it first. The candidate-join
    // plan shape (SHJ on the hashed key, nibbleL1 prefilter + banded
    // levenshtein fused in-stage) is audited at the operator level by
    // PlanAuditSpec, since a checkpoint-backed registration explains
    // as an opaque RDD scan.
    "q_dedup_editdist" -> ((s, dir) =>
      editdistPairsShared(s, dir, extraSegs = 2).orderBy("doc1", "doc2")),

    // #82b the same join with `extraSegs` CHOSEN BY MEASUREMENT: the
    // operator predicts each ladder rung's candidate-join volume from
    // its own sampled probe frame and takes the first rung inside the
    // per-doc budget — the round-11 stress corpora showed the default
    // rung is a 751 B-row disk fill on an adversarial all-near-
    // identical corpus while rung 11 runs it exactly in minutes.
    // Every rung emits identical output (knob-grid artifact), so the
    // exact-levenshtein DuckDB oracle applies unchanged.
    "q_dedup_editdist_auto" -> ((s, dir) => {
      val rung = graft.dedup.EditDistance.chooseExtraSegs(
        Tables.documents(s, dir), "doc_id", "text")
      editdistPairsShared(s, dir, extraSegs = rung).orderBy("doc1", "doc2")
    }),

    // #43c exact duplicate-substring spans (Lee et al. shape): token
    // ranges covered by any 8-gram occurring ≥2 times corpus-wide,
    // merged per doc via a gaps-and-islands window — fully relational,
    // exact SQL oracle.
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 8, minCount = 2)
        .orderBy("doc_id")),

    // #43d the cut itself — exact-oracled: the indexed-lambda surgery
    // is recomputed in DuckDB via positional unnest + span anti-join
    // (cut docs re-join kept tokens with single spaces; untouched docs
    // pass through verbatim).
    "q_dedup_cut" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 8, minCount = 2)
        // always-true filter that REFERENCES the span join's output:
        // under a bare count() Catalyst otherwise eliminates the
        // unique-keyed left join entirely (column pruning) and the
        // bench would time a word count, not the operator
        .filter(col("n_removed") >= 0)
        .orderBy("doc_id")),

    // #43g the stateless span-dedup gate scoring its OWN epoch corpus:
    // bloom of duplicated 8-gram hashes (one agg + treeReduce OR), then
    // a pure per-row projection — grams, probes, and the interval merge
    // all inside higher-order expressions. Must reproduce q_dup_spans
    // exactly (same oracle; bloom fp expectation ≪ 1 at fpp=1e-10).
    "q_dup_spans_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bloom = Dedup.duplicatedGramBloom(docs, "doc_id", "text", k = 8, fpp = 1e-10)
      Dedup.spanStatsPerRow(docs, bloom, "doc_id", "text", k = 8)
        .filter(col("dup_fraction") > 0)
        .orderBy("doc_id")
    }),

    // #43e duplicate spans at minLen=5: token ranges covered by any
    // repeated substring of length ≥ 5. A token is covered by such a
    // repeat exactly when it is covered by a repeated 5-gram, so this
    // is the k-gram coverage pipeline at k = 5 (exact at token
    // granularity; the oracle is the same 5-gram coverage SQL).
    // SuffixSpansSpec cross-checks it against spans derived from the
    // suffix-array extents.
    "q_dup_spans_sa" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        k = 5, minCount = 2)
        .orderBy("doc_id")),

    // #43f maximal repeated passages: the 20 longest exact repeats with
    // their text, from the suffix-array repeat extents built at this
    // query's own width (minLen = 8) — hash-oracled: DuckDB recomputes
    // dup_len from first principles (sort the rem>=8 suffixes as token
    // LISTS — shorter-prefix-first list order IS finite-suffix order —
    // then max LCP with either sort neighbor via an indexed-lambda
    // first-mismatch scan), then replays the run-start suppression +
    // top-N slice.
    "q_dup_passages" -> ((s, dir) =>
      graft.dedup.SuffixSpans.longestPassages(Tables.documents(s, dir),
        "doc_id", "text", minLen = 8, topN = 20)),

    // #41 MinHash+LSH candidates (rows-only: xxhash64-specific).
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 3, perms = 32, bands = 8, threshold = 0.4)
        .orderBy("doc1", "doc2")),

    // #42 SimHash candidates (rows-only: xxhash64-specific).
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(Tables.documents(s, dir), "doc_id", "text", maxHamming = 12)
        .orderBy("doc1", "doc2")),

    // #44 embedding-cosine exact pairs, BOUNDED: a fixed 500-probe
    // slice (vec_id < 500 — the ScaleUp test generator offsets replica
    // ids, so the slice is the same 500 vectors at every SF) against the full corpus.
    // O(500·n), linear in the corpus — the registered exact baseline
    // after round 6 measured the unbounded triangular join at 36% of
    // the whole sf10 suite (quadratic by semantics; it survives as the
    // spec-level ground truth for the LSH path, not as a headline
    // query). The unbounded flagship is q_dedup_embed_lsh.
    "q_dedup_embed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Cosine.nearDupPairsBounded(e, e.filter(col("vec_id") < 500),
          "vec_id", "embedding", 0.4)
        .orderBy("doc1", "doc2")
    }),

    // #44b FLAGSHIP embedding near-dup at a production threshold: the
    // banded LSH path (12-bit × 16-band hyperplane buckets → exact
    // cosine verify on candidates only) — sub-quadratic candidate
    // generation, the plan you'd run at 100 TB. Planted near-dups are
    // derived deterministically from the table (one dim scaled ×1.25 in
    // double ⇒ cos(orig, copy) ∈ [0.9938, 1] for ANY data), so recall 1
    // is achievable and the exact DuckDB pair oracle hash-matches.
    "q_dedup_embed_lsh" -> ((s, dir) => {
      val aug = plantedNearDups(Tables.embeddings(s, dir))
      // auto-density: band width grows with log2(n) so random bucket
      // collisions stay linear in the corpus (the fixed 12-bit config
      // measured QUADRATIC at sf10 — slower than the exact join)
      Cosine.lshNearDupPairsAuto(aug, "vec_id", "embedding", 0.85)
        .orderBy("doc1", "doc2")
    }),

    // #45 brute-force cosine top-k (probes = vec_id < 10).
    "q_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Cosine.topK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .orderBy("probe_id", "rank")
    }),

    // #46 LSH-bucketed ANN (rows-only: recall checked in spec).
    "q_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Cosine.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .orderBy("probe_id", "rank")
    }),

    // #53b end-to-end corpus cleanup pipeline, hash-oracled: with
    // exactPairs the near-dup stage is threshold-Jaccard through the
    // auto router at t = 0.8 — above the banding recall boundary, so
    // the banded MinHash→EXACT-VERIFY route runs (every emitted edge
    // satisfies true J >= t; per-pair miss <= 1e-9, the
    // q_dedup_ngram_banded justification). Every stage — quality gate
    // → exact dedup (min-id per content) → verified pair join →
    // min-label clusters → survivors — is then oracle-checkable end
    // to end (clusters via a recursive transitive closure) at the
    // banded cost law, not the exact join's (158 vs 31 s at sf10).
    // The raw-candidate MinHash config stays spec-pinned
    // (TextDedupSpec "corpus pipeline").
    "q_pipeline_clean" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline.clean(Tables.documents(s, dir), "doc_id", "text",
          graft.pipeline.CorpusPipeline.Config(exactPairs = true, estJaccard = 0.8))
        .select("doc_id").orderBy("doc_id")),

    // #46b IVF ANN: k-means coarse quantizer + posting-list probe
    // (rows-only: recall checked in spec). Training reads a bounded
    // deterministic sample (maxTrainRows — a no-op below sf1 where
    // the corpus is smaller) so the registered wall measures the
    // SEARCH path, not 9 Lloyd passes over the full corpus; the
    // 100 TB discipline the trainer Scaladoc prescribes.
    "q_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cents = Ivf.train(e, "vec_id", "embedding", k = 8, iters = 3,
        maxTrainRows = 20000L)
      Ivf.topK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5, cents, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // #55b IVF-PQ ANN, residual (IVFADC) encoding: coarse posting
    // lists + product-quantized residual ADC scoring (rows-only:
    // recall + determinism + ADC invariants checked in spec). The
    // 100 TB shape: candidates ride the probe join as one packed
    // bigint of m=8 codebook ids instead of 64 floats (measured 6.8×
    // fewer compressed wire bytes than q_ann_ivf — BENCH_pq_packed_
    // r16.json), distances are m reads from broadcast DECOMPOSED
    // per-probe/per-cell tables. Codes quantize the RESIDUAL
    // x − centroid(cell) (Jégou et al. TPAMI '11), the one PQ
    // encoding. Both trainers read the same bounded sample so the
    // wall is search-dominated.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val coarse = Pq.trainCoarse(e, "vec_id", "embedding", k = 8, iters = 3,
        maxTrainRows = 20000L)
      val cbs = Pq.trainCodebooks(e, "vec_id", "embedding", coarse,
        m = 8, ksub = 16, iters = 3, maxTrainRows = 20000L)
      Pq.topK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        coarse, cbs, nprobe = 3)
        .orderBy("probe_id", "rank")
    }),

    // #55c IVF-PQ with exact re-ranking — the production PQ search
    // mode: residual ADC prunes to kCand candidates, the survivors'
    // full vectors are fetched (candidate side broadcast-PINNED —
    // the corpus is never shuffled) and exactly re-scored
    // (rows-only: recall + pool-subset invariants in spec; recall at
    // production parameters in BENCH_pq_recall_r17.json).
    "q_ann_ivfpq_refined" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val coarse = Pq.trainCoarse(e, "vec_id", "embedding", k = 8, iters = 3,
        maxTrainRows = 20000L)
      val cbs = Pq.trainCodebooks(e, "vec_id", "embedding", coarse,
        m = 8, ksub = 16, iters = 3, maxTrainRows = 20000L)
      Pq.topKRefined(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        coarse, cbs, nprobe = 3, kCand = 50)
        .orderBy("probe_id", "rank")
    }),

    // #78 SemDeDup semantic dedup (Abbas et al. '23): k-means cells →
    // within-cell exact pairs → keep the low-centroid-cosine member per
    // dup group. Auto-k (⌈√n⌉ cells, sampled trainer) so the cost law
    // stays sub-quadratic at any SF. Rows-only: k-means is not
    // DuckDB-expressible; the cell/pair/representative semantics are
    // pinned by SemDedupSpec.
    "q_dedup_semantic" -> ((s, dir) => {
      val aug = plantedNearDups(Tables.embeddings(s, dir))
      SemDedup.dedupAuto(aug, "vec_id", "embedding", threshold = 0.9)
        .orderBy("vec_id")
    }),
  )

  val oracle: Map[String, String] = Map(
    // the full pipeline, recomputed independently: quality gate on the
    // ROUNDED stop ratio (the Spark side filters on the rounded
    // column), exact dedup keeps min doc_id per verbatim text, exact
    // Jaccard >= 0.8 edges over distinct 3-shingles of the survivors
    // (Spark generates candidates by banding + exact verify; edge
    // sets agree up to a <= 1e-9 per-pair banding miss), connected
    // components via recursive transitive closure (min reachable id
    // == Spark's min-label propagation fixpoint), keep docs that are
    // their own component minimum
    "q_pipeline_clean" ->
      """WITH RECURSIVE w AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |q AS (SELECT doc_id, text, ws FROM w
        |      WHERE len(ws) >= 20
        |        AND round(CASE WHEN len(ws) = 0 THEN 0.0
        |              ELSE cast(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(ws)
        |            END, 4) <= 0.9),
        |ek AS (SELECT doc_id, ws FROM q
        |       WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text)),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM ek, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t
        |       WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |ed AS (SELECT doc1, doc2
        |       FROM pr JOIN sz sa ON sa.doc_id = doc1 JOIN sz sb ON sb.doc_id = doc2
        |       WHERE cast(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.8),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM ed UNION SELECT doc2, doc1 FROM ed),
        |reach AS (SELECT a, b FROM e
        |          UNION
        |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |surv AS (SELECT ek.doc_id,
        |           least(ek.doc_id, coalesce(min(r.b), ek.doc_id)) AS survivor
        |         FROM ek LEFT JOIN reach r ON r.a = ek.doc_id GROUP BY ek.doc_id)
        |SELECT doc_id FROM surv WHERE doc_id = survivor ORDER BY doc_id""".stripMargin,

    "q_dedup_editdist" ->
      """WITH h AS (SELECT doc_id, substr(text, 1, 80) AS hd,
        |             length(substr(text, 1, 80)) AS l FROM documents),
        |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.hd AS ha, b.hd AS hb,
        |        greatest(a.l, b.l) AS m
        |      FROM h a JOIN h b ON a.doc_id < b.doc_id
        |        AND abs(a.l - b.l) <= floor(greatest(a.l, b.l) * 0.1))
        |SELECT doc1, doc2, cast(levenshtein(ha, hb) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(ha, hb) <= floor(m * 0.1)
        |ORDER BY doc1, doc2""".stripMargin,

    // identical semantics at any chosen rung — same oracle
    "q_dedup_editdist_auto" ->
      """WITH h AS (SELECT doc_id, substr(text, 1, 80) AS hd,
        |             length(substr(text, 1, 80)) AS l FROM documents),
        |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.hd AS ha, b.hd AS hb,
        |        greatest(a.l, b.l) AS m
        |      FROM h a JOIN h b ON a.doc_id < b.doc_id
        |        AND abs(a.l - b.l) <= floor(greatest(a.l, b.l) * 0.1))
        |SELECT doc1, doc2, cast(levenshtein(ha, hb) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(ha, hb) <= floor(m * 0.1)
        |ORDER BY doc1, doc2""".stripMargin,

    "q_dup_spans" ->
      """WITH mk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, len(ws) AS n_tokens, i AS pos,
        |        ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS s
        |      FROM mk, LATERAL (SELECT unnest(generate_series(1, len(ws)-7)) AS i) t
        |      WHERE len(ws) >= 8),
        |d AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, n_tokens, pos FROM p JOIN d USING (s)),
        |brk AS (SELECT doc_id, n_tokens, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS b
        |        FROM dp),
        |isl AS (SELECT doc_id, n_tokens, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |        FROM brk),
        |sp AS (SELECT doc_id, n_tokens, g, max(pos) - min(pos) + 8 AS toks
        |       FROM isl GROUP BY doc_id, n_tokens, g)
        |SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
        | cast(sum(toks) AS BIGINT) AS dup_tokens,
        | cast(count(*) AS BIGINT) AS n_spans,
        | round(cast(sum(toks) AS DOUBLE) / n_tokens, 4) AS dup_fraction
        |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,

    // the gate on its own corpus IS q_dup_spans' semantics
    "q_dup_spans_gate" ->
      """WITH mk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, len(ws) AS n_tokens, i AS pos,
        |        ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS s
        |      FROM mk, LATERAL (SELECT unnest(generate_series(1, len(ws)-7)) AS i) t
        |      WHERE len(ws) >= 8),
        |d AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, n_tokens, pos FROM p JOIN d USING (s)),
        |brk AS (SELECT doc_id, n_tokens, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS b
        |        FROM dp),
        |isl AS (SELECT doc_id, n_tokens, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |        FROM brk),
        |sp AS (SELECT doc_id, n_tokens, g, max(pos) - min(pos) + 8 AS toks
        |       FROM isl GROUP BY doc_id, n_tokens, g)
        |SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
        | cast(sum(toks) AS BIGINT) AS dup_tokens,
        | cast(count(*) AS BIGINT) AS n_spans,
        | round(cast(sum(toks) AS DOUBLE) / n_tokens, 4) AS dup_fraction
        |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,

    // coverage by duplicated substrings of length >= 5 — the 5-gram
    // window formulation, exact at token granularity (q_dup_spans at
    // k = 5)
    "q_dup_spans_sa" ->
      """WITH mk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, len(ws) AS n_tokens, i AS pos,
        |        ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
        |      FROM mk, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t
        |      WHERE len(ws) >= 5),
        |d AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, n_tokens, pos FROM p JOIN d USING (s)),
        |brk AS (SELECT doc_id, n_tokens, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
        |              THEN 0 ELSE 1 END AS b
        |        FROM dp),
        |isl AS (SELECT doc_id, n_tokens, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |        FROM brk),
        |sp AS (SELECT doc_id, n_tokens, g, max(pos) - min(pos) + 5 AS toks
        |       FROM isl GROUP BY doc_id, n_tokens, g)
        |SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
        | cast(sum(toks) AS BIGINT) AS dup_tokens,
        | cast(count(*) AS BIGINT) AS n_spans,
        | round(cast(sum(toks) AS DOUBLE) / n_tokens, 4) AS dup_fraction
        |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,

    // dup_len recomputed from first principles: sort the rem>=8
    // suffixes as token LISTS (DuckDB list order is lexicographic
    // with shorter-prefix-first = finite-suffix order; max LCP over
    // the corpus is realized at a sort neighbor), LCP via an
    // indexed-lambda first-mismatch scan (out-of-range b[i] is NULL,
    // coalesced to a mismatch, so a full-prefix match falls through
    // to len(suf)), then the identical run-start suppression + top-20
    // slice. Restricting suffixes to rem>=8 is exact for dup_len>=8
    // rows: any >=8 repeat partner also has rem>=8, and dropped
    // shorter suffixes could only contribute LCPs <= 7.
    "q_dup_passages" ->
      """WITH mk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, i AS pos1, ws[i:] AS suf
        |      FROM mk, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) t
        |      WHERE len(ws) >= 8),
        |ord AS (SELECT doc_id, pos1, suf,
        |         lag(suf)  OVER (ORDER BY suf, doc_id, pos1) AS ps,
        |         lead(suf) OVER (ORDER BY suf, doc_id, pos1) AS ns
        |        FROM p),
        |ext AS (SELECT doc_id, pos1,
        |         greatest(
        |           coalesce(nullif(list_position(
        |             list_transform(suf, (x, i) -> coalesce(x = ps[i], false)), false), 0) - 1, len(suf)),
        |           coalesce(nullif(list_position(
        |             list_transform(suf, (x, i) -> coalesce(x = ns[i], false)), false), 0) - 1, len(suf))
        |         ) AS dup_len
        |        FROM ord),
        |runs AS (SELECT doc_id, pos1, dup_len,
        |          lag(pos1)    OVER (PARTITION BY doc_id ORDER BY pos1) AS ppos,
        |          lag(dup_len) OVER (PARTITION BY doc_id ORDER BY pos1) AS plen
        |         FROM ext WHERE dup_len >= 8),
        |rs AS (SELECT doc_id, pos1, dup_len FROM runs
        |       WHERE ppos IS NULL OR ppos <> pos1 - 1 OR plen < dup_len + 1)
        |SELECT r.doc_id, cast(r.pos1 - 1 AS INT) AS pos, cast(r.dup_len AS BIGINT) AS dup_len,
        |  array_to_string(m.ws[r.pos1 : r.pos1 + cast(r.dup_len AS INT) - 1], ' ') AS passage
        |FROM rs r JOIN mk m USING (doc_id)
        |ORDER BY dup_len DESC, r.doc_id, pos LIMIT 20""".stripMargin,

    // same span pipeline as q_dup_spans (1-based positions), then the
    // cut: tokens not covered by any [st, en] island survive, kept
    // tokens re-join with single spaces; fully-cut docs become '';
    // docs with no duplicated span keep their ORIGINAL bytes
    "q_dedup_cut" ->
      """WITH mk AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, i AS pos,
        |        ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS s
        |      FROM mk, LATERAL (SELECT unnest(generate_series(1, len(ws)-7)) AS i) t
        |      WHERE len(ws) >= 8),
        |d AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM p JOIN d USING (s)),
        |brk AS (SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |              THEN 0 ELSE 1 END AS b
        |        FROM dp),
        |isl AS (SELECT doc_id, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |        FROM brk),
        |sp AS (SELECT doc_id, g, min(pos) AS st, max(pos) + 7 AS en
        |       FROM isl GROUP BY doc_id, g),
        |rem AS (SELECT doc_id, sum(en - st + 1) AS n_removed FROM sp GROUP BY doc_id),
        |tok AS (SELECT m.doc_id, u.w, u.i
        |        FROM mk m, LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i) u
        |        WHERE m.doc_id IN (SELECT doc_id FROM rem)),
        |kept AS (SELECT t.doc_id, t.i, t.w FROM tok t
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |                           WHERE sp.doc_id = t.doc_id AND t.i BETWEEN sp.st AND sp.en)),
        |cut AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS cut_text
        |        FROM kept GROUP BY doc_id)
        |SELECT m.doc_id,
        |  CASE WHEN r.doc_id IS NULL THEN m.text ELSE coalesce(c.cut_text, '') END AS text,
        |  cast(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        |FROM mk m LEFT JOIN rem r USING (doc_id) LEFT JOIN cut c ON c.doc_id = m.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,

    "q_dedup_ngram" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t
        |       WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc1, doc2,
        | round(cast(inter as double)/(sa.n + sb.n - inter), 4) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = doc1 JOIN sz sb ON sb.doc_id = doc2
        |WHERE cast(inter as double)/(sa.n + sb.n - inter) >= 0.2
        |ORDER BY doc1, doc2""".stripMargin,

    "q_dedup_ngram_banded" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t
        |       WHERE len(ws) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc1, doc2,
        | round(cast(inter as double)/(sa.n + sb.n - inter), 4) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = doc1 JOIN sz sb ON sb.doc_id = doc2
        |WHERE cast(inter as double)/(sa.n + sb.n - inter) >= 0.8
        |ORDER BY doc1, doc2""".stripMargin,

    // probe-probe pairs enumerate once (a < b), probe-corpus once (a =
    // the probe) — matching the Spark side's canonicalize + dedup
    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |x AS (SELECT vec_id, i, cast(embedding[i] as double) AS v
        |      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g),
        |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM x GROUP BY vec_id),
        |d AS (SELECT least(a.vec_id, b.vec_id) AS doc1,
        |             greatest(a.vec_id, b.vec_id) AS doc2, sum(a.v*b.v) AS dot
        |      FROM x a JOIN x b ON a.i = b.i AND a.vec_id <> b.vec_id
        |        AND a.vec_id < 500 AND (b.vec_id >= 500 OR a.vec_id < b.vec_id)
        |      GROUP BY 1, 2)
        |SELECT doc1, doc2, round(dot/(na.nrm*nb.nrm), 4) AS cos
        |FROM d JOIN n na ON na.vec_id = doc1 JOIN n nb ON nb.vec_id = doc2
        |WHERE dot/(na.nrm*nb.nrm) >= 0.4
        |ORDER BY doc1, doc2""".stripMargin,

    "q_dedup_embed_lsh" ->
      """WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),
        |base AS (SELECT vec_id, i, cast(embedding[i] as double) AS v
        |         FROM embeddings, g),
        |x AS (SELECT vec_id, i, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 1000000 AS vec_id, i,
        |             CASE WHEN i = vec_id % 64 + 1 THEN v * 1.25 ELSE v END AS v
        |      FROM base WHERE vec_id % 10 = 0),
        |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM x GROUP BY vec_id),
        |d AS (SELECT a.vec_id AS doc1, b.vec_id AS doc2, sum(a.v*b.v) AS dot
        |      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
        |      GROUP BY 1, 2)
        |SELECT doc1, doc2, round(dot/(na.nrm*nb.nrm), 4) AS cos
        |FROM d JOIN n na ON na.vec_id = doc1 JOIN n nb ON nb.vec_id = doc2
        |WHERE dot/(na.nrm*nb.nrm) >= 0.85
        |ORDER BY doc1, doc2""".stripMargin,

    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |x AS (SELECT vec_id, i, cast(embedding[i] as double) AS v
        |      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g),
        |n AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM x GROUP BY vec_id),
        |d AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, sum(a.v*b.v) AS dot
        |      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
        |      GROUP BY 1, 2),
        |c AS (SELECT probe_id, neighbor_id, dot/(na.nrm*nb.nrm) AS cos,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY dot/(na.nrm*nb.nrm) DESC, neighbor_id) AS rank
        |      FROM d JOIN n na ON na.vec_id = probe_id JOIN n nb ON nb.vec_id = neighbor_id)
        |SELECT probe_id, cast(rank as int) AS rank, neighbor_id, round(cos, 4) AS cos
        |FROM c WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
  )
}
